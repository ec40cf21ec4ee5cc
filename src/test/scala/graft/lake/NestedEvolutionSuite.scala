package graft.lake

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Nested (struct-internal) schema evolution under nested field ids.
  *
  * Field ids are stamped at EVERY struct level, so `point.z` has an
  * identity that survives RENAME COLUMN point.z — Iceberg's nested
  * field ids. Before this, struct internals resolved by name: a
  * nested rename silently NULLED old files' values and a nested
  * rename swap silently EXCHANGED two columns' data — the same
  * wrong-results lineage family as round 7's top-level fixes, one
  * level down. Legacy metadata (old epochs with top-level-only ids)
  * is detected per struct level and keeps its documented name-based
  * resolution.
  */
class NestedEvolutionSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("nestedevo_wh").toString
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("nested-evolution-suite")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .withExtensions(new LakeExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String) = spark.sql(s)
  private def count(s: String): Long = sql(s).collect()(0).getLong(0)

  test("nested rename: old files keep their values under the new name") {
    sql("CREATE TABLE lake.db.nrn (id bigint, point struct<x: bigint, z: bigint>) USING lake")
    sql("INSERT INTO lake.db.nrn SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('x', id, 'z', id + 100) FROM range(3)")
    sql("ALTER TABLE lake.db.nrn RENAME COLUMN point.z TO depth")
    val rows = sql("SELECT id, point.x AS x, point.depth AS depth " +
      "FROM lake.db.nrn ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 100L), (1L, 1L, 101L), (2L, 2L, 102L)),
      s"nested rename must preserve old files' values: ${rows.mkString(", ")}")
    // new writes land under the new name and read back together
    sql("INSERT INTO lake.db.nrn SELECT id + 10, " +
      "named_struct('x', id + 10, 'depth', id + 200) FROM range(2)")
    assert(count("SELECT count(*) FROM lake.db.nrn WHERE point.depth >= 100") == 5L)
    sql("DROP TABLE lake.db.nrn")
  }

  test("nested rename swap: values follow field identity, not names") {
    sql("CREATE TABLE lake.db.nswp (id bigint, p struct<a: bigint, b: bigint>) USING lake")
    sql("INSERT INTO lake.db.nswp SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'b', id + 100) FROM range(3)")
    sql("ALTER TABLE lake.db.nswp RENAME COLUMN p.a TO tmp")
    sql("ALTER TABLE lake.db.nswp RENAME COLUMN p.b TO a")
    sql("ALTER TABLE lake.db.nswp RENAME COLUMN p.tmp TO b")
    // current a IS the original b (id+100); current b IS the original a
    val r = sql("SELECT p.a AS a, p.b AS b FROM lake.db.nswp WHERE id = 1")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (101L, 1L),
      s"swap must follow identity: got a=${r.getLong(0)} b=${r.getLong(1)}")
    // filters (and their stats pruning) see the same identity
    assert(count("SELECT count(*) FROM lake.db.nswp WHERE p.a = 101") == 1L,
      "filter on swapped nested column must match by identity")
    assert(count("SELECT count(*) FROM lake.db.nswp WHERE p.b = 101") == 0L)
    sql("DROP TABLE lake.db.nswp")
  }

  test("nested drop/re-add: re-added field reads NULL from old files") {
    sql("CREATE TABLE lake.db.nrea (id bigint, meta struct<a: bigint, b: bigint>) USING lake")
    sql("INSERT INTO lake.db.nrea SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'b', id + 100) FROM range(5)")
    sql("ALTER TABLE lake.db.nrea DROP COLUMN meta.b")
    sql("ALTER TABLE lake.db.nrea ADD COLUMN meta.b bigint")
    // fresh nested id: the dropped column's data must NOT resurface
    assert(count("SELECT count(*) FROM lake.db.nrea WHERE meta.b = 103") == 0L,
      "dead nested data must not resurface under the re-added name")
    // and stats pruning must agree with the reader (the old files'
    // footer nullCount for 'meta.b' is 0 — an unmapped IS NULL probe
    // would prune the very files whose rows now read NULL)
    assert(count("SELECT count(*) FROM lake.db.nrea WHERE meta.b IS NULL") == 5L,
      "IS NULL must keep old files despite their dead column's stats")
    // new writes populate the re-added field
    sql("INSERT INTO lake.db.nrea SELECT id + 10, " +
      "named_struct('a', id + 10, 'b', id + 500) FROM range(2)")
    assert(count("SELECT count(*) FROM lake.db.nrea WHERE meta.b >= 500") == 2L)
    assert(count("SELECT count(*) FROM lake.db.nrea WHERE meta.b IS NULL") == 5L)
    sql("DROP TABLE lake.db.nrea")
  }

  test("MoR masked read preserves nested identity across a rename") {
    sql("""CREATE TABLE lake.db.nmor (id bigint, p struct<a: bigint, b: bigint>)
          |USING lake
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.nmor SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'b', id + 100) FROM range(5)")
    sql("ALTER TABLE lake.db.nmor RENAME COLUMN p.b TO renamed")
    sql("DELETE FROM lake.db.nmor WHERE id = 0") // forces the masked scan
    // the PosDeleteScan row path must project nested fields by id
    val vals = sql("SELECT p.renamed FROM lake.db.nmor ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(101L, 102L, 103L, 104L),
      s"masked scan must keep renamed nested values: $vals")
    sql("DROP TABLE lake.db.nmor")
  }

  test("changes table and changelog project nested fields by id") {
    sql("CREATE TABLE lake.db.ncdc (id bigint, p struct<a: bigint, b: bigint>) USING lake")
    sql("INSERT INTO lake.db.ncdc SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'b', id + 100) FROM range(3)")
    sql("ALTER TABLE lake.db.ncdc RENAME COLUMN p.b TO renamed")
    sql("INSERT INTO lake.db.ncdc SELECT id + 10, " +
      "named_struct('a', id + 10, 'renamed', id + 200) FROM range(2)")
    // ChangesReader path: pre-rename insert events carry the values
    // under the CURRENT nested name
    val fromChanges = sql("SELECT sum(p.renamed) FROM lake.db.ncdc.changes " +
      "WHERE _change_type = 'insert'").collect()(0).getLong(0)
    assert(fromChanges == (100 + 101 + 102) + (200 + 201),
      s"changes table nulled/mismapped renamed nested values: $fromChanges")
    // procedure view: Changelog.build over the same scan
    sql("CALL lake.system.create_changelog_view(table => 'db.ncdc', " +
      "changelog_view => 'ncdc_cl')")
    val fromView = sql("SELECT sum(p.renamed) FROM ncdc_cl " +
      "WHERE _change_type = 'insert'").collect()(0).getLong(0)
    assert(fromView == (100 + 101 + 102) + (200 + 201),
      s"changelog view nulled/mismapped renamed nested values: $fromView")
    sql("DROP TABLE lake.db.ncdc")
  }

  test("compaction preserves nested identity and nulls dead nested data") {
    sql("CREATE TABLE lake.db.ncmp (id bigint, m struct<a: bigint, b: bigint>) USING lake")
    sql("INSERT INTO lake.db.ncmp SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'b', id + 100) FROM range(4)")
    sql("ALTER TABLE lake.db.ncmp RENAME COLUMN m.b TO kept")
    sql("ALTER TABLE lake.db.ncmp DROP COLUMN m.a")
    sql("ALTER TABLE lake.db.ncmp ADD COLUMN m.a bigint")
    sql("INSERT INTO lake.db.ncmp SELECT /*+ REPARTITION(1) */ id + 10, " +
      "named_struct('kept', id + 300, 'a', id + 400) FROM range(2)")
    sql("CALL lake.system.rewrite_data_files(table => 'db.ncmp', " +
      "options => map('rewrite-all','true','min-input-files','1'))")
    // renamed nested values survive the rewrite; the re-added nested
    // field must NOT pick up the dropped column's physical data
    assert(count("SELECT count(*) FROM lake.db.ncmp WHERE m.kept >= 100") == 6L,
      "compaction must keep renamed nested values")
    assert(count("SELECT count(*) FROM lake.db.ncmp WHERE m.a IS NULL") == 4L,
      "compaction must not resurrect dropped nested data")
    assert(count("SELECT count(*) FROM lake.db.ncmp WHERE m.a >= 400") == 2L)
    sql("DROP TABLE lake.db.ncmp")
  }

  test("nested type widening composes with a nested rename") {
    sql("CREATE TABLE lake.db.nwid (id bigint, m struct<v: int>) USING lake")
    sql("INSERT INTO lake.db.nwid SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('v', cast(id + 7 AS int)) FROM range(3)")
    sql("ALTER TABLE lake.db.nwid ALTER COLUMN m.v TYPE bigint")
    sql("ALTER TABLE lake.db.nwid RENAME COLUMN m.v TO w")
    // old int32 pages read under the current bigint type AND the old
    // nested name resolves by id
    val vals = sql("SELECT m.w FROM lake.db.nwid ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(7L, 8L, 9L),
      s"widened + renamed nested field must keep values: $vals")
    assert(count("SELECT count(*) FROM lake.db.nwid WHERE m.w = 8") == 1L)
    sql("DROP TABLE lake.db.nwid")
  }

  test("time travel across a nested rename reads the pinned epoch's names") {
    sql("CREATE TABLE lake.db.ntt (id bigint, p struct<a: bigint, z: bigint>) USING lake")
    sql("INSERT INTO lake.db.ntt SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'z', id + 100) FROM range(3)")
    val v1 = sql("SELECT max(snapshot_id) FROM lake.db.ntt.snapshots")
      .collect()(0).getLong(0)
    sql("ALTER TABLE lake.db.ntt RENAME COLUMN p.z TO depth")
    // pinned version resolves the OLD nested name with the values
    assert(count(s"SELECT count(*) FROM lake.db.ntt VERSION AS OF $v1 " +
      "WHERE p.z = 101") == 1L,
      "time travel must read the pinned epoch's nested name")
    // and the current read serves the same values under the new name
    assert(count("SELECT count(*) FROM lake.db.ntt WHERE p.depth = 101") == 1L)
    sql("DROP TABLE lake.db.ntt")
  }

  test("legacy id-less nested metadata keeps name-based resolution") {
    // forge pre-upgrade metadata: strip nested ids from every stored
    // schema, as a table committed by an older build would carry
    sql("CREATE TABLE lake.db.nleg (id bigint, m struct<a: bigint, b: bigint>) USING lake")
    sql("INSERT INTO lake.db.nleg SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('a', id, 'b', id + 100) FROM range(3)")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "nleg")
    val m = cat.loadMeta(ident)
    def strip(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case st: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          org.apache.spark.sql.types.StructField(f.name, strip(f.dataType),
            f.nullable)))
      case other => other
    }
    val legacySchemas = m.schemas.indices.map { e =>
      val s = m.schemaAt(e)
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = strip(f.dataType)))).json
    }
    cat.commitMeta(m.copy(schemas = legacySchemas))
    // reads resolve nested fields by name (the legacy contract)
    assert(count("SELECT count(*) FROM lake.db.nleg WHERE m.b = 101") == 1L,
      "legacy nested metadata must keep name-based reads working")
    assert(count("SELECT count(*) FROM lake.db.nleg WHERE m.b IS NULL") == 0L)
    sql("DROP TABLE lake.db.nleg")
  }

  private def loadMeta(name: String): TableMeta = {
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    cat.loadMeta(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), name))
  }

  test("nested partition source follows a nested rename") {
    sql("CREATE TABLE lake.db.npart (id bigint, " +
      "s struct<ts: timestamp, v: bigint>) USING lake " +
      "PARTITIONED BY (days(s.ts))")
    sql("INSERT INTO lake.db.npart SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('ts', timestamp'2024-01-01 10:00:00' + " +
      "make_interval(0,0,0,cast(id as int)), 'v', id) FROM range(3)")
    sql("ALTER TABLE lake.db.npart RENAME COLUMN s.ts TO at")
    // the spec must have followed the rename — a stale "s.ts" would
    // make this INSERT's transform evaluation throw (and, if a later
    // ADD COLUMN reclaimed "s.ts", silently partition on the impostor)
    assert(loadMeta("npart").partitionSpec.map(_.sourceColumn) == Seq("s.at"))
    sql("INSERT INTO lake.db.npart SELECT id + 10, " +
      "named_struct('at', timestamp'2024-02-01 10:00:00', 'v', id + 10) " +
      "FROM range(2)")
    assert(count("SELECT count(*) FROM lake.db.npart") == 5L)
    assert(count("SELECT count(*) FROM lake.db.npart " +
      "WHERE s.at >= timestamp'2024-02-01'") == 2L)
    sql("DROP TABLE lake.db.npart")
  }

  test("nested partition source follows a parent-struct rename") {
    sql("CREATE TABLE lake.db.nppar (id bigint, " +
      "s struct<ts: timestamp, v: bigint>) USING lake " +
      "PARTITIONED BY (days(s.ts))")
    sql("INSERT INTO lake.db.nppar SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('ts', timestamp'2024-03-01 00:00:00', 'v', id) " +
      "FROM range(2)")
    sql("ALTER TABLE lake.db.nppar RENAME COLUMN s TO meta")
    assert(loadMeta("nppar").partitionSpec.map(_.sourceColumn) ==
      Seq("meta.ts"))
    sql("INSERT INTO lake.db.nppar SELECT id + 10, " +
      "named_struct('ts', timestamp'2024-03-02 00:00:00', 'v', id + 10) " +
      "FROM range(2)")
    assert(count("SELECT count(*) FROM lake.db.nppar") == 4L)
    sql("DROP TABLE lake.db.nppar")
  }

  // DDL cannot (yet) evolve struct fields INSIDE map values or array
  // elements — SchemaEvolution refuses the path loudly — but the
  // projection layer must not depend on that invariant: any future
  // evolution path (or legacy id-less metadata) that leaves the two
  // epochs' container internals differing would hit the positional
  // Cast fallback, which silently maps a dead column's data into a
  // same-position live one. These pin the container dive directly.
  test("projectRowExpr dives map-of-struct values by field id") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    def fid(i: Long) = new MetadataBuilder()
      .putLong(TableMeta.FieldIdKey, i).build()
    val epV = StructType(Seq(
      StructField("a", LongType, true, fid(2)),
      StructField("b", LongType, true, fid(3))))
    // b dropped and re-added under the SAME name with a fresh id —
    // same arity, so a positional cast would resurrect the dead data
    val curV = StructType(Seq(
      StructField("a", LongType, true, fid(2)),
      StructField("b", LongType, true, fid(4))))
    val ep = MapType(StringType, epV)
    val cur = MapType(StringType, curV)
    val in = Literal.create(Map("k" -> org.apache.spark.sql.Row(1L, 100L)), ep)
    val out = LakeScans.projectRowExpr(in, cur, ep, None).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val v = out.valueArray().getStruct(0, 2)
    assert(v.getLong(0) == 1L, "live nested field must keep its value")
    assert(v.isNullAt(1),
      "re-added map-value field must read NULL, not the dead column's data")
  }

  test("projectRowExpr dives arrays-of-arrays-of-struct by field id") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    def fid(i: Long) = new MetadataBuilder()
      .putLong(TableMeta.FieldIdKey, i).build()
    val epV = StructType(Seq(
      StructField("a", LongType, true, fid(2)),
      StructField("b", LongType, true, fid(3))))
    val curV = StructType(Seq(
      StructField("a", LongType, true, fid(2)),
      StructField("b", LongType, true, fid(4))))
    val ep = ArrayType(ArrayType(epV))
    val cur = ArrayType(ArrayType(curV))
    val in = Literal.create(
      Seq(Seq(org.apache.spark.sql.Row(7L, 700L))), ep)
    val out = LakeScans.projectRowExpr(in, cur, ep, None).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val v = out.getArray(0).getStruct(0, 2)
    assert(v.getLong(0) == 7L)
    assert(v.isNullAt(1),
      "re-added field two array levels down must read NULL")
  }

  test("compaction across a map-of-struct drop/re-add nulls the re-add") {
    import org.apache.spark.sql.types._
    sql("CREATE TABLE lake.db.nmap (id bigint, " +
      "m map<string, struct<a: bigint, b: bigint>>) USING lake")
    sql("INSERT INTO lake.db.nmap SELECT /*+ REPARTITION(1) */ id, " +
      "map('k', named_struct('a', id, 'b', id + 100)) FROM range(3)")
    // forge the evolution DDL cannot spell yet: the map value's `b` is
    // dropped and re-added under the same name, so it takes a fresh id
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "nmap")
    val m = cat.loadMeta(ident)
    val freshId = new MetadataBuilder()
      .putLong(TableMeta.FieldIdKey, m.highestFieldId + 1).build()
    val evolved = StructType(m.schema.fields.map {
      case f @ StructField("m", MapType(k, v: StructType, n), _, _) =>
        f.copy(dataType = MapType(k, StructType(v.fields.map(vf =>
          if (vf.name == "b") vf.copy(metadata = freshId) else vf)), n))
      case f => f
    })
    cat.commitMeta(m.copy(schemas = m.schemas :+ evolved.json,
      currentSchemaEpoch = m.schemas.size))
    sql("INSERT INTO lake.db.nmap SELECT /*+ REPARTITION(1) */ id + 10, " +
      "map('k', named_struct('a', id + 10, 'b', id + 200)) FROM range(2)")
    def rows(): Seq[(Long, Long, Option[Long])] =
      sql("SELECT id, m['k'].a, m['k'].b FROM lake.db.nmap ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    val expected = Seq((0L, 0L, None), (1L, 1L, None), (2L, 2L, None),
      (10L, 10L, Some(200L)), (11L, 11L, Some(201L)))
    assert(rows() == expected, "the read path must null the dead values")
    sql("""CALL lake.system.rewrite_data_files(table => 'db.nmap',
          |options => map('rewrite-all', 'true', 'min-input-files', '1'))"""
      .stripMargin)
    val head = loadMeta("nmap")
    val files = head.currentSnapshot("main").get.files
    assert(files.size == 1 && files.forall(_.schemaEpoch == head.currentSchemaEpoch),
      s"both epochs must compact into one current-epoch file: $files")
    assert(rows() == expected,
      "compaction must not resurrect the dead map-value data")
    sql("DROP TABLE lake.db.nmap")
  }

  test("dropping a struct that contains a partition source is refused") {
    sql("CREATE TABLE lake.db.npdrop (id bigint, " +
      "s struct<ts: timestamp, v: bigint>) USING lake " +
      "PARTITIONED BY (days(s.ts))")
    val e = intercept[Exception] {
      sql("ALTER TABLE lake.db.npdrop DROP COLUMN s")
    }
    assert(e.getMessage.contains("partition source"),
      s"dropping the source's parent struct must be refused: ${e.getMessage}")
    val e2 = intercept[Exception] {
      sql("ALTER TABLE lake.db.npdrop DROP COLUMN s.ts")
    }
    assert(e2.getMessage.contains("partition source"))
    // after the partition field is dropped, the struct may go
    sql("ALTER TABLE lake.db.npdrop DROP PARTITION FIELD days(s.ts)")
    sql("ALTER TABLE lake.db.npdrop DROP COLUMN s")
    assert(loadMeta("npdrop").schema.fieldNames.toSeq == Seq("id"))
    sql("DROP TABLE lake.db.npdrop")
  }
}
