package graft.lake

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Equality deletes / upsert writes (Iceberg-v2 semantics: the CDC
  * write path Flink's upsert sink uses). Covers the full lifecycle:
  * upsert commits, read-side key filtering, time travel, changelog
  * events, compaction folding, copy-on-write interplay, schema
  * evolution across the key column, branches, streaming, and
  * maintenance accounting. */
class EqDeleteSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _

  override def beforeAll(): Unit = {
    wh = java.nio.file.Files.createTempDirectory("eq_wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("eq-delete-suite")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .withExtensions(new LakeExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  private def sql(s: String) = spark.sql(s)
  private def count(s: String): Long = sql(s).collect()(0).getLong(0)

  private def mkUpsertTable(name: String, extra: String = ""): Unit = {
    sql(s"""CREATE TABLE lake.db.$name (id bigint NOT NULL, v string)
           | USING lake TBLPROPERTIES (
           |  'identifier-fields'='id', 'write.upsert.enabled'='true'$extra
           | )""".stripMargin)
  }

  private def state(name: String): Seq[(Long, String)] =
    sql(s"SELECT id, v FROM lake.db.$name ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  /** Append a batch as ONE data file (tiny VALUES inserts write one
    * file per row, which makes every predicate provably full-file and
    * never exercises partial rewrites / masks). */
  private def appendOneFile(name: String, rows: (Long, String)*): Unit = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("id", "v").coalesce(1)
      .writeTo(s"lake.db.$name").append()
  }

  test("upsert: second batch's keys replace the first's rows") {
    mkUpsertTable("up1")
    sql("INSERT INTO lake.db.up1 VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("INSERT INTO lake.db.up1 VALUES (2,'B'),(4,'d')")
    assert(state("up1") == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))

    // first commit is a plain append (nothing to delete); the second
    // is an upsert carrying one equality-delete file
    val ops = sql("SELECT operation FROM lake.db.up1.snapshots ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("append", "upsert"))
    val eqFiles = sql("SELECT * FROM lake.db.up1.delete_files WHERE content = 2")
      .collect()
    assert(eqFiles.length == 1)
    assert(eqFiles.head.getLong(4) == 2L) // two keys in the delete file
  }

  test("upsert: time travel reads the pre-upsert state") {
    mkUpsertTable("up2")
    sql("INSERT INTO lake.db.up2 VALUES (1,'a'),(2,'b')")
    val v1 = sql("SELECT snapshot_id FROM lake.db.up2.snapshots ORDER BY snapshot_id")
      .collect().head.getLong(0)
    sql("INSERT INTO lake.db.up2 VALUES (1,'A')")
    assert(state("up2") == Seq((1L, "A"), (2L, "b")))
    val old = sql(s"SELECT id, v FROM lake.db.up2 VERSION AS OF $v1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(old == Seq((1L, "a"), (2L, "b")))
  }

  test("upsert: aggregate pushdown declines — count is post-delete") {
    mkUpsertTable("up3")
    sql("INSERT INTO lake.db.up3 VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("INSERT INTO lake.db.up3 VALUES (2,'B')")
    // 3 + 1 raw rows, but one is equality-deleted
    assert(count("SELECT count(*) FROM lake.db.up3") == 3)
    assert(count("SELECT count(*) FROM lake.db.up3 WHERE id = 2") == 1)
    assert(sql("SELECT v FROM lake.db.up3 WHERE id = 2").collect()
      .head.getString(0) == "B")
  }

  test("upsert: repeated upserts of the same key keep only the latest") {
    mkUpsertTable("up4")
    sql("INSERT INTO lake.db.up4 VALUES (7,'v0')")
    for (i <- 1 to 4) sql(s"INSERT INTO lake.db.up4 VALUES (7,'v$i')")
    assert(state("up4") == Seq((7L, "v4")))
  }

  test("changelog: an upsert emits deletes of the replaced rows") {
    mkUpsertTable("up5")
    sql("INSERT INTO lake.db.up5 VALUES (1,'a'),(2,'b')")
    sql("INSERT INTO lake.db.up5 VALUES (2,'B'),(3,'c')")
    val changes = sql(
      "SELECT id, v, _change_type, _change_ordinal FROM lake.db.up5.changes " +
        "ORDER BY _change_ordinal, _change_type, id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSeq
    assert(changes == Seq(
      (1L, "a", "insert", 0), (2L, "b", "insert", 0),
      (2L, "b", "delete", 1), (2L, "B", "insert", 1), (3L, "c", "insert", 1)))

    // the procedure view agrees and can pair the update
    sql("CALL lake.system.create_changelog_view(table => 'lake.db.up5', " +
      "changelog_view => 'up5_cl', identifier_columns => array('id'))")
    val paired = sql("SELECT id, v, _change_type FROM up5_cl " +
      "WHERE _change_ordinal = 1 ORDER BY _change_type, id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(paired == Seq(
      (3L, "c", "insert"),
      (2L, "B", "update_after"), (2L, "b", "update_before")))
  }

  test("compaction folds equality deletes back to a clean table") {
    mkUpsertTable("up6")
    sql("INSERT INTO lake.db.up6 VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("INSERT INTO lake.db.up6 VALUES (2,'B'),(4,'d')")
    assert(count("SELECT count(*) FROM lake.db.up6.delete_files WHERE content = 2") == 1)
    sql("CALL lake.system.rewrite_data_files(table => 'lake.db.up6', " +
      "options => map('rewrite-all','true','min-input-files','1'))")
    // delete file retired from the head snapshot; state unchanged
    assert(count("SELECT count(*) FROM lake.db.up6.delete_files WHERE content = 2") == 0)
    assert(state("up6") == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("binpack over several partition groups applies and retires " +
      "pending equality deletes") {
    sql("""CREATE TABLE lake.db.up6p (id bigint NOT NULL, region string, v string)
        |USING lake PARTITIONED BY (region) TBLPROPERTIES (
        |  'identifier-fields'='id', 'write.upsert.enabled'='true')""".stripMargin)
    val model = scala.collection.mutable.Map[Long, (String, String)]()
    for (batch <- Seq(
        Seq((1L, "eu", "a"), (2L, "eu", "b"), (3L, "us", "c"), (5L, "ap", "e")),
        Seq((2L, "eu", "B"), (3L, "us", "C"), (4L, "ap", "d")),
        Seq((1L, "us", "A"), (4L, "ap", "D"), (6L, "eu", "f")))) {
      sql("INSERT INTO lake.db.up6p VALUES " + batch.map { case (i, r, v) =>
        s"($i, '$r', '$v')" }.mkString(", "))
      batch.foreach { case (i, r, v) => model(i) = (r, v) }
    }
    def rows(): Seq[(Long, String, String)] =
      sql("SELECT id, region, v FROM lake.db.up6p ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val expected = model.toSeq.sortBy(_._1).map { case (i, (r, v)) => (i, r, v) }
    assert(rows() == expected)
    assert(count("SELECT count(*) FROM lake.db.up6p.delete_files WHERE content = 2") >= 1)
    val res = sql("CALL lake.system.rewrite_data_files(table => 'lake.db.up6p')")
      .collect()(0)
    assert(res.getInt(0) >= 6, res.toString)
    val files = LakeMeta.of(spark, Seq("lake", "db", "up6p")).currentSnapshot().get.files
    assert(files.map(_.partitionValues).distinct.size == 3 &&
      files.forall(_.partitionValues.nonEmpty), files.map(_.partitionValues).toString)
    assert(count("SELECT count(*) FROM lake.db.up6p.delete_files WHERE content = 2") == 0)
    assert(rows() == expected)
  }

  test("copy-on-write DELETE does not resurrect equality-deleted rows") {
    mkUpsertTable("up7")
    appendOneFile("up7", (1L, "a"), (2L, "b"), (3L, "c"))
    appendOneFile("up7", (2L, "B"))
    // partial rewrite of the first file (negating id=1) must apply the
    // eq mask while copying — old (2,'b') must not come back
    sql("DELETE FROM lake.db.up7 WHERE id = 1")
    assert(state("up7") == Seq((2L, "B"), (3L, "c")))
  }

  test("merge-on-read position deletes compose with equality deletes") {
    mkUpsertTable("up8", extra = ", 'write.delete.mode'='merge-on-read'")
    appendOneFile("up8", (1L, "a"), (2L, "b"), (3L, "c"))
    appendOneFile("up8", (2L, "B"), (4L, "d"))
    sql("DELETE FROM lake.db.up8 WHERE v = 'c'") // position mask on file 1
    assert(state("up8") == Seq((1L, "a"), (2L, "B"), (4L, "d")))
    // both mask kinds present on the head snapshot
    assert(count("SELECT count(*) FROM lake.db.up8.delete_files WHERE content = 1") >= 1)
    assert(count("SELECT count(*) FROM lake.db.up8.delete_files WHERE content = 2") == 1)
  }

  test("upsert applies across a key-column rename (field-id identity)") {
    mkUpsertTable("up9")
    sql("INSERT INTO lake.db.up9 VALUES (1,'a'),(2,'b')")
    sql("ALTER TABLE lake.db.up9 RENAME COLUMN id TO ident")
    sql("ALTER TABLE lake.db.up9 SET IDENTIFIER FIELDS ident")
    sql("INSERT INTO lake.db.up9 VALUES (2,'B')")
    val rows = sql("SELECT ident, v FROM lake.db.up9 ORDER BY ident").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B")))
  }

  test("dropping an identifier column is rejected") {
    mkUpsertTable("up10")
    val e = intercept[Exception] {
      sql("ALTER TABLE lake.db.up10 DROP COLUMN id")
    }
    assert(e.getMessage.contains("identifier field"))
  }

  test("upsert on a branch stays isolated from main") {
    mkUpsertTable("up11")
    sql("INSERT INTO lake.db.up11 VALUES (1,'a'),(2,'b')")
    sql("ALTER TABLE lake.db.up11 CREATE BRANCH dev")
    sql("INSERT INTO lake.db.up11.branch_dev VALUES (2,'DEV')")
    assert(state("up11") == Seq((1L, "a"), (2L, "b")))
    val dev = sql("SELECT id, v FROM lake.db.up11.branch_dev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dev == Seq((1L, "a"), (2L, "DEV")))
  }

  test("incremental read treats upserts as appends (latest values)") {
    mkUpsertTable("up12")
    sql("INSERT INTO lake.db.up12 VALUES (1,'a'),(2,'b')")
    val v1 = sql("SELECT snapshot_id FROM lake.db.up12.snapshots ORDER BY snapshot_id")
      .collect().head.getLong(0)
    sql("INSERT INTO lake.db.up12 VALUES (2,'B'),(3,'c')")
    val inc = spark.read.format("lake")
      .option("start-snapshot-id", v1.toString)
      .table("lake.db.up12")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(inc == Seq((2L, "B"), (3L, "c")))
  }

  test("maintenance: live equality-delete files survive orphan sweep / expiry") {
    mkUpsertTable("up13")
    sql("INSERT INTO lake.db.up13 VALUES (1,'a'),(2,'b')")
    sql("INSERT INTO lake.db.up13 VALUES (2,'B')")
    assert(count("SELECT count(*) FROM lake.db.up13.delete_files WHERE content = 2") == 1)
    // orphan sweep with an aggressive cutoff must NOT delete the live file
    sql("CALL lake.system.remove_orphan_files(table => 'lake.db.up13', " +
      "older_than => TIMESTAMP '2100-01-01 00:00:00')")
    assert(state("up13") == Seq((1L, "a"), (2L, "B")))
    // expire everything but the head — the delete file is still
    // referenced by the head snapshot and must survive
    sql("CALL lake.system.expire_snapshots(table => 'lake.db.up13', " +
      "older_than => TIMESTAMP '2100-01-01 00:00:00', retain_last => 1)")
    assert(state("up13") == Seq((1L, "a"), (2L, "B")))
  }

  test("streaming sink into an upsert table applies per-epoch upserts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    mkUpsertTable("up14")
    sql("INSERT INTO lake.db.up14 VALUES (1,'a'),(2,'b')")
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("id", "v")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("eq_ck").toString)
      .toTable("lake.db.up14")
    try {
      mem.addData((2L, "B"), (3L, "c"))
      q.processAllAvailable()
      assert(state("up14") == Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // a second epoch upserts again
      mem.addData((3L, "C2"))
      q.processAllAvailable()
      assert(state("up14") == Seq((1L, "a"), (2L, "B"), (3L, "C2")))
    } finally q.stop()
  }

  test("plan shape: only eq-affected files leave the vectorized path") {
    mkUpsertTable("up16")
    appendOneFile("up16", (1L, "a"), (2L, "b"))     // affected (key 2)
    appendOneFile("up16", (100L, "x"), (101L, "y")) // key range disjoint
    appendOneFile("up16", (2L, "B"))                // the upsert batch
    val df = sql("SELECT id, v FROM lake.db.up16")
    val plan = df.queryExecution.executedPlan.toString
    // exactly ONE file pays the row-based masked path; the disjoint
    // file and the fresh batch stay on the vectorized scan
    assert(plan.contains("1 masked files"),
      s"eq relevance pruning must keep unaffected files vectorized:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      == Seq((1L, "a"), (2L, "B"), (100L, "x"), (101L, "y")))
  }

  test("snapshot isolation skips the phantom check; serializable keeps it") {
    import org.apache.spark.sql.connector.catalog.Identifier
    sql("""CREATE TABLE lake.db.up17 (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.merge.mode'='merge-on-read',
        |  'write.merge.isolation-level'='snapshot')""".stripMargin)
    sql("INSERT INTO lake.db.up17 SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val stale = cat.loadTable(Identifier.of(Array("db"), "up17"))
      .asInstanceOf[LakeTable]
    val scanned = stale.meta.currentSnapshot("main").get.files.map(_.path)
    sql("INSERT INTO lake.db.up17 VALUES (50, 'new')") // concurrent append
    val loc = stale.meta.location
    val stageDir = s"$loc/data/test-snap-iso"
    sql("SELECT CAST(100 AS bigint) AS id, 'x' AS v")
      .coalesce(1).write.parquet(stageDir)
    // snapshot isolation: the unpushable-condition merge commits
    // despite the concurrent append (no phantom validation)
    LakeWriteUtil.commitDelta(stale, stageDir,
      s"$loc/metadata/deletes/none", "merge", Some(scanned))
    assert(count("SELECT count(*) FROM lake.db.up17") == 12)
    // the same situation under serializable (the default) conflicts
    sql("ALTER TABLE lake.db.up17 UNSET TBLPROPERTIES ('write.merge.isolation-level')")
    val stale2 = cat.loadTable(Identifier.of(Array("db"), "up17"))
      .asInstanceOf[LakeTable]
    val scanned2 = stale2.meta.currentSnapshot("main").get.files.map(_.path)
    sql("INSERT INTO lake.db.up17 VALUES (51, 'new2')")
    intercept[java.util.ConcurrentModificationException] {
      LakeWriteUtil.commitDelta(stale2, stageDir,
        s"$loc/metadata/deletes/none2", "merge", Some(scanned2))
    }
  }

  test("upsert on a partitioned table: deletes respect key ranges per file") {
    sql("""CREATE TABLE lake.db.up19 (id bigint NOT NULL, region string, v string)
        |USING lake PARTITIONED BY (region) TBLPROPERTIES (
        |  'identifier-fields'='id', 'write.upsert.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.up19 VALUES (1,'eu','a'),(2,'eu','b'),(3,'us','c')")
    sql("INSERT INTO lake.db.up19 VALUES (2,'eu','B2'),(3,'us','C2'),(4,'ap','d')")
    val rows = sql("SELECT id, region, v FROM lake.db.up19 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, "eu", "a"), (2L, "eu", "B2"), (3L, "us", "C2"),
      (4L, "ap", "d")))
    // partition pruning composes with the eq filter
    assert(count("SELECT count(*) FROM lake.db.up19 WHERE region = 'eu'") == 2)
  }

  test("upsert across a key-type widening (old delete files cast up)") {
    sql("""CREATE TABLE lake.db.up20 (id int NOT NULL, v string)
        |USING lake TBLPROPERTIES (
        |  'identifier-fields'='id', 'write.upsert.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.up20 VALUES (1,'a'),(2,'b')")
    sql("INSERT INTO lake.db.up20 VALUES (2,'B')") // int-typed eq delete file
    sql("ALTER TABLE lake.db.up20 ALTER COLUMN id TYPE bigint")
    // the int-keyed delete file must still filter data now read as bigint
    val rows = sql("SELECT id, v FROM lake.db.up20 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B")))
    // and a post-widening upsert (bigint keys) composes with it
    sql("INSERT INTO lake.db.up20 VALUES (1,'A2')")
    val rows2 = sql("SELECT id, v FROM lake.db.up20 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows2 == Seq((1L, "A2"), (2L, "B")))
  }

  test("convert_equality_deletes: eq masks become position deletes") {
    mkUpsertTable("up18")
    appendOneFile("up18", (1L, "a"), (2L, "b"), (3L, "c"))
    appendOneFile("up18", (2L, "B"), (4L, "d"))
    val r = sql(
      "CALL lake.system.convert_equality_deletes(table => 'lake.db.up18')")
      .collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) >= 1, r.toString)
    // equality files retired, position masks in their place, same state
    assert(count("SELECT count(*) FROM lake.db.up18.delete_files WHERE content = 2") == 0)
    assert(count("SELECT count(*) FROM lake.db.up18.delete_files WHERE content = 1") >= 1)
    assert(state("up18") == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // the conversion commit is row-preserving: the only delete event in
    // the whole history is the upsert's replacement of (2,'b')
    val deletes = sql("SELECT id, v FROM lake.db.up18.changes " +
      "WHERE _change_type = 'delete'").collect()
      .map(r2 => (r2.getLong(0), r2.getString(1))).toSeq
    assert(deletes == Seq((2L, "b")), s"conversion must emit no events: $deletes")
    // a later upsert composes with the converted masks
    appendOneFile("up18", (3L, "C3"))
    assert(state("up18") == Seq((1L, "a"), (2L, "B"), (3L, "C3"), (4L, "d")))
  }

  test("rewrite_position_delete_files minor mode consolidates masks only") {
    mkUpsertTable("up21", extra = ", 'write.delete.mode'='merge-on-read'")
    appendOneFile("up21", (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    // two MoR deletes -> two small delete files over the same data file
    sql("DELETE FROM lake.db.up21 WHERE id = 2")
    sql("DELETE FROM lake.db.up21 WHERE id = 4")
    assert(count("SELECT count(*) FROM lake.db.up21.delete_files WHERE content = 1") == 2)
    val dataFiles = count("SELECT count(*) FROM lake.db.up21.files")
    val r = sql("CALL lake.system.rewrite_position_delete_files(" +
      "table => 'lake.db.up21', options => map('mode','minor'))").collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 1, r.toString)
    // one consolidated mask, data files untouched, state unchanged
    assert(count("SELECT count(*) FROM lake.db.up21.delete_files WHERE content = 1") == 1)
    assert(count("SELECT count(*) FROM lake.db.up21.files") == dataFiles)
    assert(state("up21") == Seq((1L, "a"), (3L, "c")))
    // position_deletes metadata table shows the merged sorted pairs
    assert(count("SELECT count(*) FROM lake.db.up21.position_deletes") == 2)
  }

  test("changelog: CoW rewrite after an upsert emits no phantom delete") {
    mkUpsertTable("up22")
    appendOneFile("up22", (1L, "a"), (2L, "b"), (3L, "c"))
    appendOneFile("up22", (2L, "B")) // eq-deletes (2,'b')
    // rewrites the first file; (2,'b') was already dead and must NOT
    // re-emit as a delete of the CoW commit
    sql("DELETE FROM lake.db.up22 WHERE id = 1")
    val deletes = sql("SELECT id, v, _change_ordinal FROM lake.db.up22.changes " +
      "WHERE _change_type = 'delete' ORDER BY _change_ordinal, id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    // raw relation: (2,b) deletes ONCE (the upsert); the CoW commit
    // removes (1,a) plus the (3,c) carryover, which pairs with its
    // re-insert — but must NOT re-emit the already-dead (2,b)
    assert(deletes == Seq((2L, "b", 1), (1L, "a", 2), (3L, "c", 2)),
      s"already-dead rows must not re-emit: $deletes")
    assert(sql("SELECT * FROM lake.db.up22.changes WHERE _change_type = " +
      "'insert' AND _change_ordinal = 2").count() == 1) // the carryover pair
    // the procedure view nets the carryover away
    sql("CALL lake.system.create_changelog_view(table => 'lake.db.up22', " +
      "changelog_view => 'up22_cl')")
    val netDeletes = sql("SELECT id, v FROM up22_cl WHERE _change_type = " +
      "'delete' ORDER BY _change_ordinal").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(netDeletes == Seq((2L, "b"), (1L, "a")),
      s"exactly one net delete per logical removal: $netDeletes")
  }

  test("dropping a column anchored by outstanding eq deletes is rejected") {
    mkUpsertTable("up23")
    appendOneFile("up23", (1L, "a"), (2L, "b"))
    appendOneFile("up23", (2L, "B"))
    sql("ALTER TABLE lake.db.up23 DROP IDENTIFIER FIELDS id")
    val e = intercept[Exception] {
      sql("ALTER TABLE lake.db.up23 DROP COLUMN id")
    }
    assert(e.getMessage.contains("equality-delete files still key on it"),
      e.getMessage)
    // after folding the deletes away the drop becomes legal... except
    // historical snapshots still reference them until expiry
    sql("CALL lake.system.rewrite_data_files(table => 'lake.db.up23', " +
      "options => map('rewrite-all','true','min-input-files','1'))")
    sql("CALL lake.system.expire_snapshots(table => 'lake.db.up23', " +
      "older_than => TIMESTAMP '2100-01-01 00:00:00', retain_last => 1)")
    sql("ALTER TABLE lake.db.up23 DROP COLUMN id")
    assert(sql("SELECT * FROM lake.db.up23").columns.toSeq == Seq("v"))
  }

  test("null identifier keys are never upsert-replaced, consistently") {
    sql("""CREATE TABLE lake.db.up24 (id bigint, v string)
        | USING lake TBLPROPERTIES (
        |  'identifier-fields'='id', 'write.upsert.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.up24 VALUES (1,'a'),(NULL,'x')")
    sql("INSERT INTO lake.db.up24 VALUES (1,'A'),(NULL,'y')")
    def rows() = sql("SELECT id, v FROM lake.db.up24 ORDER BY v").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSeq
    // null keys are SQL-unequal: both null rows survive, (1,a) replaced
    assert(rows() == Seq((1L, "A"), (-1L, "x"), (-1L, "y")))
    // compaction (the SQL anti-join path) must agree with the scan
    sql("CALL lake.system.rewrite_data_files(table => 'lake.db.up24', " +
      "options => map('rewrite-all','true','min-input-files','1'))")
    assert(rows() == Seq((1L, "A"), (-1L, "x"), (-1L, "y")))
  }

  test("upserts across an identifier-fields change (mixed key shapes)") {
    mkUpsertTable("up25")
    appendOneFile("up25", (1L, "a"), (2L, "b"))
    appendOneFile("up25", (2L, "B")) // shape [id]
    sql("ALTER TABLE lake.db.up25 ADD COLUMN region string")
    sql("ALTER TABLE lake.db.up25 SET IDENTIFIER FIELDS id, v")
    sql("INSERT INTO lake.db.up25 VALUES (1,'a','eu')") // shape [id, v]
    def rows() = sql("SELECT id, v, region FROM lake.db.up25 ORDER BY id, v")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("-"))).toSeq
    assert(rows() == Seq((1L, "a", "eu"), (2L, "B", "-")))
    // conversion handles both shapes in one pass (per-shape semi-joins)
    sql("CALL lake.system.convert_equality_deletes(table => 'lake.db.up25')")
    assert(count("SELECT count(*) FROM lake.db.up25.delete_files WHERE content = 2") == 0)
    assert(rows() == Seq((1L, "a", "eu"), (2L, "B", "-")))
  }

  test("expired changelog start snapshot fails loudly, not silently") {
    mkUpsertTable("up26")
    appendOneFile("up26", (1L, "a"))
    appendOneFile("up26", (2L, "b"))
    appendOneFile("up26", (3L, "c"))
    val first = sql("SELECT snapshot_id FROM lake.db.up26.snapshots " +
      "ORDER BY snapshot_id").collect().head.getLong(0)
    sql("CALL lake.system.expire_snapshots(table => 'lake.db.up26', " +
      "older_than => TIMESTAMP '2100-01-01 00:00:00', retain_last => 1)")
    val e = intercept[Exception] {
      spark.read.option("start-snapshot-id", first.toString)
        .table("lake.db.up26.changes").collect()
    }
    assert(e.getMessage.contains("no longer in the table metadata"),
      e.getMessage)
  }

  test("MoR delta UPDATE works over equality-filtered scans") {
    mkUpsertTable("up15", extra = ", 'write.update.mode'='merge-on-read'")
    sql("INSERT INTO lake.db.up15 VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("INSERT INTO lake.db.up15 VALUES (2,'B')")
    // the delta scan must see the POST-upsert state: exactly one row
    // with id=2, and the update must touch only that row
    sql("UPDATE lake.db.up15 SET v = 'upd' WHERE id = 2")
    assert(state("up15") == Seq((1L, "a"), (2L, "upd"), (3L, "c")))
  }
}
