package graft.lake

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end slice (SURVEY.md §7.2) + DML/time-travel/branch/WAP
  * coverage mirroring the reference suite's assertions. */
class LakeSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _

  override def beforeAll(): Unit = {
    wh = java.nio.file.Files.createTempDirectory("lake_wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("lake-suite")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  private def sql(s: String) = spark.sql(s)
  private def count(s: String): Long = sql(s).collect()(0).getLong(0)

  /** Sort operator occurrences in a printed physical plan (tree-edge
    * prefixed, so "SortMergeJoin"/"SortAggregate" don't match). */
  private def sortNodes(plan: String): Int =
    "- Sort \\[".r.findAllIn(plan).size

  test("create / insert / select / time travel / metadata tables") {
    sql("CREATE TABLE lake.db.sample (id bigint NOT NULL, data string) USING lake")
    sql("INSERT INTO lake.db.sample VALUES (1,'a'),(2,'b')")
    sql("INSERT INTO lake.db.sample VALUES (3,'c')")

    val rows = sql("SELECT * FROM lake.db.sample ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    val snaps = sql("SELECT snapshot_id, operation FROM lake.db.sample.snapshots ORDER BY snapshot_id").collect()
    assert(snaps.length == 2)
    assert(snaps.forall(_.getString(1) == "append"))

    val v1 = snaps(0).getLong(0)
    assert(sql(s"SELECT * FROM lake.db.sample VERSION AS OF $v1").count() == 2)
    assert(sql("SELECT * FROM lake.db.sample.history").count() == 2)
    assert(sql("SELECT * FROM lake.db.sample.files").count() >= 1)
    assert(sql("SELECT * FROM lake.db.sample.refs").collect()
      .exists(r => r.getString(0) == "main"))
  }

  test("PosDeletes.normCol keys every path spelling like PosDeletes.norm") {
    val spellings = Seq("/wh/t/data/f.parquet", "file:/wh/t/data/f.parquet",
      "file:///wh/t/data/f.parquet", "hdfs://nn:8020/wh/t/data/f.parquet",
      "s3a://bucket/wh/t/data/f.parquet")
    val s = spark
    import s.implicits._
    val keyed = spellings.toDF("p").repartition(2)
      .select($"p", PosDeletes.normCol($"p")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val disagree = spellings.filter(p => keyed(p) != PosDeletes.norm(p))
    assert(disagree.isEmpty, disagree.map(p =>
      s"$p: column key ${keyed(p)}, driver key ${PosDeletes.norm(p)}").mkString("; "))
    assert(spellings.map(PosDeletes.norm).distinct == Seq("/wh/t/data/f.parquet"))
  }

  test("ctas and rtas") {
    sql("CREATE TABLE lake.db.ctas USING lake AS SELECT 1 AS id, 'x' AS v")
    assert(count("SELECT count(*) FROM lake.db.ctas") == 1)
    sql("CREATE OR REPLACE TABLE lake.db.ctas USING lake AS SELECT 2 AS id, 'y' AS v UNION ALL SELECT 3, 'z'")
    assert(count("SELECT count(*) FROM lake.db.ctas") == 2)
  }

  test("delete / update / merge") {
    sql("CREATE TABLE lake.db.dml (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.dml VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")

    sql("DELETE FROM lake.db.dml WHERE id = 2")
    assert(count("SELECT count(*) FROM lake.db.dml") == 3)

    sql("UPDATE lake.db.dml SET v = 'updated' WHERE id = 3")
    assert(sql("SELECT v FROM lake.db.dml WHERE id = 3").collect()(0).getString(0) == "updated")

    sql("""MERGE INTO lake.db.dml t USING (
          |  SELECT 1 AS id, 'merged' AS v UNION ALL SELECT 9, 'new'
          |) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = sql("SELECT id, v FROM lake.db.dml ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((1L, "merged"), (3L, "updated"), (4L, "d"), (9L, "new")))

    val ops = sql("SELECT operation FROM lake.db.dml.snapshots ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("append", "delete", "update", "merge"))
  }

  test("insert overwrite static and dynamic") {
    sql("CREATE TABLE lake.db.ow (id bigint, part string) USING lake PARTITIONED BY (part)")
    sql("INSERT INTO lake.db.ow VALUES (1,'a'),(2,'b')")
    sql("SET spark.sql.sources.partitionOverwriteMode=dynamic")
    sql("INSERT OVERWRITE lake.db.ow VALUES (10,'a')")
    val rows = sql("SELECT id, part FROM lake.db.ow ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "b"), (10L, "a")), s"dynamic overwrite got $rows")
    sql("SET spark.sql.sources.partitionOverwriteMode=static")
    sql("INSERT OVERWRITE lake.db.ow VALUES (7,'z')")
    assert(count("SELECT count(*) FROM lake.db.ow") == 1)
  }

  test("branches, tags, wap") {
    sql("CREATE TABLE lake.db.br (id bigint) USING lake")
    sql("INSERT INTO lake.db.br VALUES (1),(2)")
    sql("CALL lake.system.create_branch(table => 'db.br', branch => 'audit')")
    sql("CALL lake.system.create_tag(table => 'db.br', tag => 'v1')")

    // write to the branch; main must not move (iceberg_it.py:1521-1524)
    sql("INSERT INTO lake.db.br.branch_audit VALUES (3)")
    assert(count("SELECT count(*) FROM lake.db.br") == 2)
    assert(count("SELECT count(*) FROM lake.db.br.branch_audit") == 3)
    assert(count("SELECT count(*) FROM lake.db.br VERSION AS OF 'audit'") == 3)
    assert(count("SELECT count(*) FROM lake.db.br VERSION AS OF 'v1'") == 2)

    // fast-forward main to the branch head
    sql("CALL lake.system.fast_forward(table => 'db.br', branch => 'main', to => 'audit')")
    assert(count("SELECT count(*) FROM lake.db.br") == 3)

    // WAP: stage a commit invisibly, then publish
    sql("ALTER TABLE lake.db.br SET TBLPROPERTIES ('write.wap.enabled'='true')")
    spark.conf.set("spark.wap.id", "wap1")
    sql("INSERT INTO lake.db.br VALUES (99)")
    assert(count("SELECT count(*) FROM lake.db.br") == 3, "WAP write must be invisible")
    spark.conf.unset("spark.wap.id")
    sql("CALL lake.system.publish_changes(table => 'db.br', wap_id => 'wap1')")
    assert(count("SELECT count(*) FROM lake.db.br") == 4)
  }

  test("wap.branch conf redirects writes; truncate table") {
    sql("CREATE TABLE lake.db.wapb (id bigint) USING lake")
    sql("INSERT INTO lake.db.wapb VALUES (1)")
    sql("CALL lake.system.create_branch(table => 'db.wapb', branch => 'stage')")
    spark.conf.set("spark.wap.branch", "stage")
    try sql("INSERT INTO lake.db.wapb VALUES (2)")
    finally spark.conf.unset("spark.wap.branch")
    assert(count("SELECT count(*) FROM lake.db.wapb") == 1, "main unchanged")
    assert(count("SELECT count(*) FROM lake.db.wapb.branch_stage") == 2)
    sql("CALL lake.system.fast_forward(table => 'db.wapb', branch => 'main', to => 'stage')")
    assert(count("SELECT count(*) FROM lake.db.wapb") == 2)

    sql("TRUNCATE TABLE lake.db.wapb")
    assert(count("SELECT count(*) FROM lake.db.wapb") == 0)
    // history retained: pre-truncate snapshot still readable
    val pre = sql("SELECT max(snapshot_id) FROM lake.db.wapb.snapshots WHERE operation <> 'delete'")
      .collect()(0).getLong(0)
    assert(sql(s"SELECT * FROM lake.db.wapb VERSION AS OF $pre").count() == 2)
  }

  test("schema evolution incl. rename reads old files") {
    sql("CREATE TABLE lake.db.se (id bigint, data string) USING lake")
    sql("INSERT INTO lake.db.se VALUES (1,'old')")
    sql("ALTER TABLE lake.db.se ADD COLUMN extra int")
    sql("ALTER TABLE lake.db.se RENAME COLUMN data TO payload")
    sql("INSERT INTO lake.db.se VALUES (2,'new',42)")
    val rows = sql("SELECT id, payload, extra FROM lake.db.se ORDER BY id").collect()
    assert(rows(0).getString(1) == "old", "renamed column must read old files")
    assert(rows(0).isNullAt(2))
    assert(rows(1).getString(1) == "new" && rows(1).getInt(2) == 42)

    sql("ALTER TABLE lake.db.se ALTER COLUMN extra TYPE bigint")
    assert(sql("SELECT extra FROM lake.db.se WHERE id = 2").collect()(0).getLong(0) == 42L)
    sql("ALTER TABLE lake.db.se DROP COLUMN extra")
    assert(sql("SELECT * FROM lake.db.se").columns.toSeq == Seq("id", "payload"))
  }

  test("procedures: rollback, cherrypick, expire, orphans, compaction") {
    sql("CREATE TABLE lake.db.proc (id bigint) USING lake")
    sql("INSERT INTO lake.db.proc VALUES (1)")
    sql("INSERT INTO lake.db.proc VALUES (2)")
    sql("INSERT INTO lake.db.proc VALUES (3)")
    val snaps = sql("SELECT snapshot_id FROM lake.db.proc.snapshots ORDER BY snapshot_id")
      .collect().map(_.getLong(0))

    sql(s"CALL lake.system.rollback_to_snapshot(table => 'db.proc', snapshot_id => ${snaps(1)})")
    assert(count("SELECT count(*) FROM lake.db.proc") == 2)
    sql(s"CALL lake.system.set_current_snapshot(table => 'db.proc', snapshot_id => ${snaps(2)})")
    assert(count("SELECT count(*) FROM lake.db.proc") == 3)
    assert(sql("CALL lake.system.ancestors_of(table => 'db.proc')").count() == 3)

    val rw = sql("CALL lake.system.rewrite_data_files(table => 'db.proc')").collect()(0)
    assert(rw.getInt(0) == 3, s"expected 3 rewritten, got $rw")
    assert(count("SELECT count(*) FROM lake.db.proc") == 3)

    val orphans = sql("CALL lake.system.remove_orphan_files(table => 'db.proc', dry_run => true)")
    assert(orphans.count() >= 0)

    sql("CALL lake.system.expire_snapshots(table => 'db.proc', retain_last => 1)")
    assert(count("SELECT count(*) FROM lake.db.proc") == 3)
  }

  test("merge rewrites only matched-partition files (runtime group filtering)") {
    sql("CREATE TABLE lake.db.rgf (id bigint, part string) USING lake PARTITIONED BY (part)")
    // one INSERT spanning two partitions: the fanout staging writer
    // must split it into one file per partition tuple
    sql("INSERT INTO lake.db.rgf VALUES (1,'a'),(2,'a'),(3,'b'),(4,'b')")
    def files() = sql("SELECT file_path, partition FROM lake.db.rgf.files")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val before = files()
    val bFiles = before.filter(_._2.contains("b")).keySet
    assert(bFiles.nonEmpty && before.size > bFiles.size, s"need a/b files: $before")
    sql("""MERGE INTO lake.db.rgf t USING (SELECT 1 AS id, 'a' AS part) s
          |ON t.id = s.id AND t.part = s.part
          |WHEN MATCHED THEN UPDATE SET t.id = t.id + 100""".stripMargin)
    val after = files()
    assert(bFiles.subsetOf(after.keySet),
      s"unmatched partition-b files must survive the merge untouched: " +
        s"before=$before after=$after")
    assert(before.keySet.diff(after.keySet).nonEmpty, "partition-a was rewritten")
    val rows = sql("SELECT id FROM lake.db.rgf ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(rows == Seq(2L, 3L, 4L, 101L), rows.toString)
  }

  test("rewrite_data_files honors where scope and zorder sort") {
    sql("CREATE TABLE lake.db.zrw (id bigint, cat string) USING lake")
    sql("INSERT INTO lake.db.zrw SELECT id, concat('c', id % 3) FROM range(1, 11, 1, 1)")
    sql("INSERT INTO lake.db.zrw SELECT id, concat('c', id % 3) FROM range(11, 21, 1, 1)")
    sql("INSERT INTO lake.db.zrw SELECT id, concat('c', id % 3) FROM range(21, 31, 1, 1)")
    def paths() = sql("SELECT file_path FROM lake.db.zrw.files")
      .collect().map(_.getString(0)).toSet
    val before = paths()
    assert(before.size == 3)
    // ids 21-30 live only in the third file; its stats exclude id <= 20
    val rw = sql("""CALL lake.system.rewrite_data_files(table => 'db.zrw',
        |where => 'id <= 20')""".stripMargin).collect()(0)
    assert(rw.getInt(0) == 2, s"expected 2 files in scope, got $rw")
    val after = paths()
    val untouched = before.intersect(after)
    assert(untouched.size == 1, s"one out-of-scope file must survive: $untouched")
    assert(count("SELECT count(*) FROM lake.db.zrw") == 30)
    // zorder: accepted spelling, runs, and keeps the data intact
    sql("INSERT INTO lake.db.zrw SELECT id, concat('c', id % 3) FROM range(31, 41, 1, 1)")
    val z = sql("""CALL lake.system.rewrite_data_files(table => 'db.zrw',
        |strategy => 'sort', sort_order => 'zorder(id, cat)')""".stripMargin)
      .collect()(0)
    assert(z.getInt(0) >= 2, s"zorder rewrite ran: $z")
    assert(count("SELECT count(*) FROM lake.db.zrw") == 40)
    assert(count("SELECT count(DISTINCT id) FROM lake.db.zrw") == 40)
  }

  test("merge-on-read delete: position masks, masked reads, fold-back") {
    sql("""CREATE TABLE lake.db.mor (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.mor SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO lake.db.mor SELECT id, concat('v', id) FROM range(10, 20, 1, 1)")
    def paths() = sql("SELECT file_path FROM lake.db.mor.files")
      .collect().map(_.getString(0)).toSet
    val before = paths()
    val preDeleteSnap = sql("SELECT max(snapshot_id) FROM lake.db.mor.snapshots")
      .collect()(0).getLong(0)

    sql("DELETE FROM lake.db.mor WHERE id IN (3, 15)")
    assert(paths() == before, "MoR delete must leave data files byte-identical")
    assert(count("SELECT count(*) FROM lake.db.mor") == 18)
    assert(sql("SELECT * FROM lake.db.mor WHERE id IN (3, 15)").count() == 0)
    assert(sql("SELECT * FROM lake.db.mor.delete_files").count() >= 1,
      "position-delete files surface in the metadata table")
    // time travel to before the delete sees all rows (no masks)
    assert(sql(s"SELECT * FROM lake.db.mor VERSION AS OF $preDeleteSnap").count() == 20)

    // CoW UPDATE on a masked table must read through the masks
    sql("UPDATE lake.db.mor SET v = 'upd' WHERE id = 4")
    assert(count("SELECT count(*) FROM lake.db.mor") == 18)
    assert(sql("SELECT * FROM lake.db.mor WHERE id = 3").count() == 0,
      "update rewrite must not resurrect masked rows")

    // fold masks back into data files
    val res = sql("CALL lake.system.rewrite_position_delete_files(table => 'db.mor')")
      .collect()(0)
    assert(res.getInt(0) >= 1, res.toString)
    assert(count("SELECT count(*) FROM lake.db.mor") == 18)
    assert(sql("SELECT * FROM lake.db.mor.delete_files").count() == 0)
    assert(sql("SELECT * FROM lake.db.mor WHERE id IN (3, 15)").count() == 0)
    val ids = sql("SELECT id FROM lake.db.mor ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == (0L until 20L).filterNot(i => i == 3L || i == 15L), ids.toString)
  }

  test("compaction of a merge-on-read table preserves delete masks") {
    sql("""CREATE TABLE lake.db.morcomp (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morcomp SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO lake.db.morcomp SELECT id, concat('v', id) FROM range(10, 20, 1, 1)")
    sql("INSERT INTO lake.db.morcomp SELECT id, concat('v', id) FROM range(20, 30, 1, 1)")
    sql("DELETE FROM lake.db.morcomp WHERE id = 5") // masks file 1 only
    assert(count("SELECT count(*) FROM lake.db.morcomp") == 29)
    val res = sql("""CALL lake.system.rewrite_data_files(table => 'db.morcomp',
        |options => map('rewrite-all','true'))""".stripMargin).collect()(0)
    assert(res.getInt(0) >= 2, s"unmasked files compacted: $res")
    assert(count("SELECT count(*) FROM lake.db.morcomp") == 29,
      "compaction must not resurrect rows masked in untouched files")
    assert(sql("SELECT * FROM lake.db.morcomp WHERE id = 5").count() == 0)
    assert(sql("SELECT * FROM lake.db.morcomp.delete_files").count() >= 1,
      "the mask over the untouched file survives the replace commit")
  }

  test("filter overwrite applies merge-on-read masks while rewriting") {
    sql("""CREATE TABLE lake.db.morow (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morow SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("DELETE FROM lake.db.morow WHERE id = 3")
    assert(count("SELECT count(*) FROM lake.db.morow") == 9)
    // overwrite(id >= 8): the one data file partially matches, so it is
    // rewritten to a fresh path no mask references — the mask must be
    // applied during the rewrite or id=3 resurrects
    sql("SELECT * FROM VALUES (CAST(100 AS bigint),'n1'), (CAST(101 AS bigint),'n2') AS t(id, v)")
      .writeTo("lake.db.morow")
      .overwrite(org.apache.spark.sql.functions.col("id") >= 8)
    val ids = sql("SELECT id FROM lake.db.morow ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 100L, 101L), ids.toString)
  }

  test("repeated merge-on-read deletes do not re-record masked positions") {
    sql("""CREATE TABLE lake.db.mordup (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.mordup SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("DELETE FROM lake.db.mordup WHERE id = 3")
    sql("DELETE FROM lake.db.mordup WHERE id <= 4") // re-matches id=3
    assert(count("SELECT count(*) FROM lake.db.mordup") == 5)
    val added = sql(
      "SELECT summary['added-position-deletes'] FROM lake.db.mordup.snapshots ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(added == Seq(null, "1", "4"),
      s"second delete records only the four NEW positions: $added")
    sql("""CALL lake.system.create_changelog_view(table => 'db.mordup',
          |changelog_view => 'mordup_changes')""".stripMargin)
    val dels = sql("SELECT id FROM mordup_changes WHERE _change_type = 'delete'")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(dels == Seq(0L, 1L, 2L, 3L, 4L),
      s"each deleted row surfaces exactly once: $dels")
  }

  test("manifest spill pointers are reused across a cold start") {
    sql("""CREATE TABLE lake.db.spillord (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.spillord SELECT id FROM range(0, 12, 1, 4)")
    val loc = sql("SELECT file_path FROM lake.db.spillord.files LIMIT 1")
      .collect()(0).getString(0).replaceAll("/data/.*", "").stripPrefix("file:")
    def snap1Dirs() = Option(new java.io.File(loc, "metadata/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("m-1-")).toSeq
    val before = snap1Dirs()
    assert(before.size == 1, s"snapshot 1 spilled once: $before")
    Manifests.clearCacheForTesting()
    // the next commit re-serializes snapshot 1: its pointer must be
    // reused (ordinal-ordered read equals the hydrated list), not
    // re-spilled into a fresh dir
    sql("INSERT INTO lake.db.spillord VALUES (100)")
    assert(snap1Dirs() == before,
      s"cold-start reuse must not re-spill snapshot 1: ${snap1Dirs()}")
    assert(count("SELECT count(*) FROM lake.db.spillord") == 13)
  }

  test("manifest slim: a lost CAS race does not destroy the live spill") {
    sql("""CREATE TABLE lake.db.slimrace (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.slimrace SELECT id FROM range(0, 12, 1, 4)")
    val loc = sql("SELECT file_path FROM lake.db.slimrace.files LIMIT 1")
      .collect()(0).getString(0).replaceAll("/data/.*", "").stripPrefix("file:")
    def spillDirs() = Option(new java.io.File(loc, "metadata/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq.sorted
    val conf = spark.sessionState.newHadoopConf()
    val stale = MetadataLog.load(loc, conf)
    val before = spillDirs()
    assert(before.size == 1, s"one spill dir expected: $before")
    // a concurrent commit lands first (same content: pointer reused)
    MetadataLog.commit(MetadataLog.load(loc, conf), conf)
    // our stale-base commit mutates the spilled snapshot's file list,
    // forcing a re-spill — then loses the CAS
    val mutated = stale.copy(snapshots = stale.snapshots.map(s =>
      s.copy(files = s.files.reverse)))
    intercept[java.util.ConcurrentModificationException] {
      MetadataLog.commit(mutated, conf)
    }
    // the live spill survives the lost race AND the failed attempt's
    // fresh spill dir was cleaned up
    assert(spillDirs() == before,
      s"lost CAS must leave exactly the live spill: ${spillDirs()}")
    // the committed version still hydrates after a cold start
    Manifests.clearCacheForTesting()
    assert(count("SELECT count(*) FROM lake.db.slimrace") == 12)
  }

  test("manifest slim: a spill read failure fails the commit, not the spill") {
    sql("""CREATE TABLE lake.db.slimfail (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.slimfail SELECT id FROM range(0, 12, 1, 4)")
    val loc = sql("SELECT file_path FROM lake.db.slimfail.files LIMIT 1")
      .collect()(0).getString(0).replaceAll("/data/.*", "").stripPrefix("file:")
    def spillDirs() = Option(new java.io.File(loc, "metadata/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq.sorted
    val conf = spark.sessionState.newHadoopConf()
    val before = spillDirs()
    Manifests.clearCacheForTesting()
    // point the snapshot at an unreadable spill: the commit must FAIL
    // (propagated I/O error), not treat it as a content mismatch and
    // re-spill — the old behavior deleted the live dir on a transient
    // read error
    val broken = MetadataLog.load(loc, conf)
    val redirected = broken.copy(snapshots = broken.snapshots.map(s =>
      s.copy(manifestPath = s.manifestPath.map(_ + "-missing"))))
    val thrown = intercept[Throwable] { MetadataLog.commit(redirected, conf) }
    assert(!thrown.isInstanceOf[java.util.ConcurrentModificationException],
      s"read failure must propagate, got $thrown")
    assert(spillDirs() == before,
      s"read failure must not create or delete spills: ${spillDirs()}")
    Manifests.clearCacheForTesting()
    assert(count("SELECT count(*) FROM lake.db.slimfail") == 12)
  }

  test("table load hydrates spilled manifests lazily; commits don't force them") {
    sql("""CREATE TABLE lake.db.lazyman (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.lazyman SELECT id FROM range(0, 12, 1, 4)")
    sql("INSERT INTO lake.db.lazyman SELECT id FROM range(12, 24, 1, 4)")
    val loc = s"$wh/db/lazyman"
    val conf = spark.sessionState.newHadoopConf()
    Manifests.clearCacheForTesting()
    val meta = MetadataLog.load(loc, conf)
    val wrappers = meta.snapshots.map(s => s.snapshotId -> s.files).collect {
      case (id, l: LazyManifestFiles) => id -> l
    }.toMap
    // NOTE: don't interpolate the wrappers into clue strings — the
    // eager toString would force the very laziness under test
    assert(wrappers.size == 2, s"both snapshots spill lazily: ${wrappers.keySet}")
    assert(wrappers.values.forall(!_.isForced), "load must not read manifests")
    // a metadata-only commit reuses the pointers without forcing a read
    MetadataLog.commit(meta.copy(
      properties = meta.properties + ("fmt.test" -> "1")), conf)
    assert(wrappers.values.forall(!_.isForced),
      "an untouched spill must commit by pointer, not by content")
    // hydration is per-snapshot: touching the head's list leaves the
    // rest of the history cold
    val head = meta.currentSnapshotId("main").get
    val older = wrappers.keySet.find(_ != head).get
    assert(wrappers(head).length == 8, "head snapshot hydrates on access")
    assert(wrappers(head).isForced && !wrappers(older).isForced,
      "unaccessed history stays cold")
    // and the table still reads end to end
    assert(count("SELECT count(*) FROM lake.db.lazyman") == 24)
  }

  test("LakeMeta.liveFileCount counts a spilled head from parquet " +
      "footers without forcing the manifest") {
    sql("""CREATE TABLE lake.db.lazycount (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.lazycount SELECT id FROM range(0, 12, 1, 4)")
    val expected = count("SELECT count(*) FROM lake.db.lazycount.files")
    assert(expected >= 4, s"fixture must spill (threshold 2): $expected")
    Manifests.clearCacheForTesting()
    val got = LakeMeta.liveFileCount(spark, Seq("lake", "db", "lazycount"))
    assert(got == expected,
      s"footer count must equal the .files count: $got vs $expected")
    // the count must come from footers: a forced manifest read would
    // have materialized the dir into the process-wide cache
    val conf = spark.sessionState.newHadoopConf()
    val dir = MetadataLog.load(s"$wh/db/lazycount", conf)
      .currentSnapshot("main").get.manifestPath.get
    assert(!Manifests.cachedForTesting(dir),
      "liveFileCount forced the spilled manifest instead of reading footers")
  }

  test("rewrite_manifests rewrites spill dirs and clusters by partition") {
    sql("""CREATE TABLE lake.db.rwman (id bigint, p bigint) USING lake
        |PARTITIONED BY (p)
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.rwman SELECT id, id % 4 FROM range(0, 8, 1, 2)")
    sql("INSERT INTO lake.db.rwman SELECT id, id % 4 FROM range(8, 16, 1, 2)")
    val loc = s"$wh/db/rwman"
    def spillDirs() = Option(new java.io.File(loc, "metadata/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq.sorted
    val before = spillDirs()
    assert(before.size == 2, s"both snapshots spill: $before")
    // only the ref HEAD rewrites (O(refs), not O(history)); the older
    // snapshot's spill stays cold and untouched
    val res = sql("CALL lake.system.rewrite_manifests(table => 'db.rwman')")
      .collect()(0)
    assert(res.getInt(0) == 1 && res.getInt(1) == 1,
      s"1 rewritten + 1 added (head only), got $res")
    // the head's OLD spill dir is not deleted inline — an already-
    // loaded reader may hold an unforced lazy pointer into it; it
    // retires via remove_orphan_files' age-guarded sweep instead
    val after = spillDirs()
    assert(after.size == 3 && before.forall(after.contains),
      s"fresh spill added, old dirs retained for lazy readers: " +
        s"before=$before after=$after")
    val cutoff = java.time.Instant.now().plusSeconds(60)
    sql(s"""CALL lake.system.remove_orphan_files(table => 'db.rwman',
       |older_than => TIMESTAMP '${java.sql.Timestamp.from(cutoff)}')""".stripMargin)
      .collect()
    val swept = spillDirs()
    assert(swept.size == 2 && swept.intersect(before).size == 1,
      s"sweep reclaims the replaced head spill, history kept: $swept")
    // rewritten manifests cluster entries by partition tuple
    val conf = spark.sessionState.newHadoopConf()
    Manifests.clearCacheForTesting()
    val head = MetadataLog.load(loc, conf)
      .currentSnapshot("main").get.files
    val keys = head.map(_.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("/"))
    assert(keys == keys.sorted, s"entries must cluster by partition: $keys")
    // the table still reads after a cold start
    assert(count("SELECT count(*) FROM lake.db.rwman") == 16)
    assert(count("SELECT count(*) FROM lake.db.rwman WHERE p = 3") == 4)
  }

  test("remove_orphan_files collects stranded manifest spill dirs") {
    sql("""CREATE TABLE lake.db.spillorphan (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.spillorphan SELECT id FROM range(0, 12, 1, 4)")
    val loc = s"$wh/db/spillorphan"
    def spillDirs() = Option(new java.io.File(loc, "metadata/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq.sorted
    assert(spillDirs().size == 1)
    // a crashed commit's stranded spill dir: real parquet, unreferenced
    val stray = new java.io.File(loc, "metadata/manifests/m-999-stranded")
    sql("SELECT 1 AS x").coalesce(1).write.parquet(stray.getAbsolutePath)
    // age guard: a brand-new dir could be an in-flight commit's spill
    val kept = sql(
      "CALL lake.system.remove_orphan_files(table => 'db.spillorphan')")
      .collect()
    assert(kept.isEmpty && stray.exists(), "fresh spill dir is protected")
    // with an explicit future cutoff it is collected — recursively —
    // while the referenced live spill survives
    val cutoff = java.time.Instant.now().plusSeconds(60)
    val removed = sql(
      s"""CALL lake.system.remove_orphan_files(table => 'db.spillorphan',
         |older_than => TIMESTAMP '${java.sql.Timestamp.from(cutoff)}')""".stripMargin)
      .collect().map(_.getString(0))
    assert(removed.exists(_.contains("m-999-stranded")),
      s"stranded dir must be reported: ${removed.mkString(", ")}")
    assert(!stray.exists(), "stranded dir must be deleted recursively")
    assert(spillDirs().size == 1, s"live spill survives: ${spillDirs()}")
    Manifests.clearCacheForTesting()
    assert(count("SELECT count(*) FROM lake.db.spillorphan") == 12)
  }

  test("metadata columns _file and _pos") {
    sql("CREATE TABLE lake.db.metacols (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.metacols SELECT id, concat('v', id) FROM range(0, 5, 1, 1)")
    sql("INSERT INTO lake.db.metacols SELECT id, concat('v', id) FROM range(5, 8, 1, 1)")
    val rows = sql("SELECT _file, _pos, id FROM lake.db.metacols ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).distinct.length == 2, "two files")
    // ordinals restart per file and follow write order
    assert(rows.take(5).map(_._2).toSeq == Seq(0L, 1L, 2L, 3L, 4L), rows.mkString(","))
    assert(rows.drop(5).map(_._2).toSeq == Seq(0L, 1L, 2L), rows.mkString(","))
    // a SELECT * must NOT surface them
    assert(sql("SELECT * FROM lake.db.metacols").columns.toSeq == Seq("id", "v"))
  }

  test("merge-on-read UPDATE writes deltas instead of rewriting files") {
    sql("""CREATE TABLE lake.db.moru (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.moru SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO lake.db.moru SELECT id, concat('v', id) FROM range(10, 20, 1, 1)")
    def paths() = sql("SELECT file_path FROM lake.db.moru.files")
      .collect().map(_.getString(0)).toSet
    val before = paths()
    sql("UPDATE lake.db.moru SET v = 'upd' WHERE id IN (3, 15)")
    assert(before.subsetOf(paths()),
      "delta update must keep every parent data file byte-identical")
    assert(count("SELECT count(*) FROM lake.db.moru") == 20)
    val upd = sql("SELECT id, v FROM lake.db.moru WHERE v = 'upd' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(upd == Seq(3L, 15L), upd.toString)
    assert(sql("SELECT * FROM lake.db.moru WHERE id = 3 AND v = 'v3'").count() == 0,
      "old row version is masked")
    assert(sql("SELECT * FROM lake.db.moru.delete_files").count() >= 1)
    // row-level mask content surfaces in position_deletes
    val masks = sql("SELECT file_path, pos FROM lake.db.moru.position_deletes")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(masks.length == 2, masks.mkString(","))
    assert(masks.map(_._1).distinct.length == 2, "one mask per touched file")
    val op = sql("SELECT operation FROM lake.db.moru.snapshots ORDER BY snapshot_id DESC LIMIT 1")
      .collect()(0).getString(0)
    assert(op == "update", op)
  }

  test("merge-on-read MERGE: update, delete and insert clauses as deltas") {
    sql("""CREATE TABLE lake.db.morm (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morm SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    def paths() = sql("SELECT file_path FROM lake.db.morm.files")
      .collect().map(_.getString(0)).toSet
    val before = paths()
    sql("""MERGE INTO lake.db.morm t
        |USING (SELECT * FROM VALUES (CAST(2 AS bigint)), (CAST(4 AS bigint)),
        |  (CAST(100 AS bigint)) AS s(id)) s
        |ON t.id = s.id
        |WHEN MATCHED AND t.id = 4 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = 'merged'
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 'new')""".stripMargin)
    assert(before.subsetOf(paths()),
      "delta merge must keep every parent data file")
    val rows = sql("SELECT id, v FROM lake.db.morm ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 10, rows.toString) // 10 - 1 deleted + 1 inserted
    assert(rows.contains((2L, "merged")) && rows.contains((100L, "new")), rows.toString)
    assert(!rows.exists(_._1 == 4L), rows.toString)
    // fold-back restores the vectorized path and identical results
    sql("CALL lake.system.rewrite_position_delete_files(table => 'db.morm')")
    assert(sql("SELECT * FROM lake.db.morm.delete_files").count() == 0)
    val after = sql("SELECT id, v FROM lake.db.morm ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == rows, "fold-back must not change query results")
  }

  test("merge-on-read DELETE via row-level path (subquery predicate)") {
    sql("""CREATE TABLE lake.db.mord (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.mord SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    def paths() = sql("SELECT file_path FROM lake.db.mord.files")
      .collect().map(_.getString(0)).toSet
    val before = paths()
    // IN (subquery) is not expressible as a v1 filter -> row-level op
    sql("""DELETE FROM lake.db.mord
        |WHERE id IN (SELECT id FROM lake.db.mord WHERE v IN ('v2','v7'))""".stripMargin)
    assert(paths() == before, "delta delete keeps data files")
    val ids = sql("SELECT id FROM lake.db.mord ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 9L), ids.toString)
  }

  test("delta UPDATE on a partitioned table moves rows across partitions") {
    sql("""CREATE TABLE lake.db.morpart (id bigint, cat string, v string)
        |USING lake PARTITIONED BY (cat)
        |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO lake.db.morpart
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END,
        |  concat('v', id) FROM range(0, 10, 1, 1)""".stripMargin)
    def paths() = sql("SELECT file_path FROM lake.db.morpart.files")
      .collect().map(_.getString(0)).toSet
    val before = paths()
    // moves id=4 from partition 'even' to 'moved'
    sql("UPDATE lake.db.morpart SET cat = 'moved' WHERE id = 4")
    assert(before.subsetOf(paths()), "parent files stay")
    val moved = sql("SELECT id FROM lake.db.morpart WHERE cat = 'moved'")
      .collect().map(_.getLong(0)).toSeq
    assert(moved == Seq(4L), moved.toString)
    assert(count("SELECT count(*) FROM lake.db.morpart WHERE cat = 'even'") == 4)
    assert(count("SELECT count(*) FROM lake.db.morpart") == 10)
    // the delta file landed in the new partition tuple
    val parts = sql("SELECT partition FROM lake.db.morpart.partitions")
      .collect().map(_.getString(0)).toSet
    assert(parts.exists(_.contains("moved")), parts.toString)
    // partition-pruned read over the masked partition stays correct
    val evens = sql("SELECT id FROM lake.db.morpart WHERE cat = 'even' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(evens == Seq(0L, 2L, 6L, 8L), evens.toString)
  }

  test("delta DML across schema evolution (rename + added column)") {
    sql("""CREATE TABLE lake.db.morevo (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read',
        |  'write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morevo SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("ALTER TABLE lake.db.morevo RENAME COLUMN v TO label")
    sql("ALTER TABLE lake.db.morevo ADD COLUMN score double")
    sql("INSERT INTO lake.db.morevo VALUES (100, 'n', 1.5)")
    // delta ops span files of BOTH schema epochs
    sql("UPDATE lake.db.morevo SET score = 9.9 WHERE id IN (3, 100)")
    sql("DELETE FROM lake.db.morevo WHERE id IN (SELECT id FROM lake.db.morevo WHERE id = 7)")
    val rows = sql("SELECT id, label, score FROM lake.db.morevo ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(rows.length == 10, rows.mkString(","))
    assert(!rows.exists(_._1 == 7L))
    assert(rows.find(_._1 == 3L).get == ((3L, "v3", 9.9)))
    assert(rows.find(_._1 == 100L).get == ((100L, "n", 9.9)))
    assert(rows.find(_._1 == 2L).get == ((2L, "v2", null)))
    // fold-back across epochs stays correct
    sql("CALL lake.system.rewrite_position_delete_files(table => 'db.morevo')")
    val after = sql("SELECT id, label, score FROM lake.db.morevo ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(after.toSeq == rows.toSeq, "fold-back must preserve results")
  }

  test("delta commit refuses masks over concurrently rewritten files") {
    sql("""CREATE TABLE lake.db.morconc (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morconc SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val table = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "morconc")).asInstanceOf[LakeTable]
    val loc = table.meta.location
    // a mask referencing a file that is no longer (or never was) live
    // must fail the commit, not silently drop the delete
    val delDir = s"$loc/metadata/deletes/test-stale"
    sql("SELECT '/nonexistent/f.parquet' AS file_path, CAST(0 AS bigint) AS pos")
      .coalesce(1).write.parquet(delDir)
    intercept[java.util.ConcurrentModificationException] {
      LakeWriteUtil.commitDelta(table, s"$loc/data/none", delDir, "update")
    }
    assert(count("SELECT count(*) FROM lake.db.morconc") == 10)
  }

  test("delta commit detects concurrent delete files over the read set (write skew)") {
    sql("""CREATE TABLE lake.db.morskew (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read',
        |  'write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morskew SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    // the operation's table handle pins the pre-delete snapshot (= its scan)
    val stale = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "morskew")).asInstanceOf[LakeTable]
    val scanned = stale.meta.currentSnapshot("main").get.files.map(_.path)
    // a concurrent MoR DELETE adds a new delete file over the same rows
    sql("DELETE FROM lake.db.morskew WHERE id = 3")
    val loc = stale.meta.location
    val stageDir = s"$loc/data/test-skew"
    sql("SELECT CAST(100 AS bigint) AS id, 'x' AS v")
      .coalesce(1).write.parquet(stageDir)
    // committing inserts matched from the stale read set must fail:
    // the join saw id=3, which was concurrently deleted (write skew)
    intercept[java.util.ConcurrentModificationException] {
      LakeWriteUtil.commitDelta(stale, stageDir,
        s"$loc/metadata/deletes/none", "merge", Some(scanned))
    }
    // a DISJOINT read set does not conflict: same stale base commits fine
    LakeWriteUtil.commitDelta(stale, stageDir,
      s"$loc/metadata/deletes/none", "merge", Some(Nil))
    assert(count("SELECT count(*) FROM lake.db.morskew") == 10)
    assert(count("SELECT count(*) FROM lake.db.morskew WHERE id = 3") == 0)
    assert(count("SELECT count(*) FROM lake.db.morskew WHERE id = 100") == 1)
  }

  test("delta commit detects concurrently added rows matching its condition (phantoms)") {
    sql("""CREATE TABLE lake.db.morphant (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morphant SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val stale = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "morphant")).asInstanceOf[LakeTable]
    val scanned = stale.meta.currentSnapshot("main").get.files.map(_.path)
    // a concurrent append adds rows this operation never saw
    sql("INSERT INTO lake.db.morphant VALUES (50, 'new')")
    val loc = stale.meta.location
    val stageDir = s"$loc/data/test-phantom"
    sql("SELECT CAST(100 AS bigint) AS id, 'x' AS v")
      .coalesce(1).write.parquet(stageDir)
    // no pushable condition (a MERGE ON clause): ANY concurrent append
    // is a phantom under serializable semantics
    intercept[java.util.ConcurrentModificationException] {
      LakeWriteUtil.commitDelta(stale, stageDir,
        s"$loc/metadata/deletes/none", "merge", Some(scanned))
    }
    // a pushed condition whose stats exclude the new file (id = 3 vs
    // the appended id = 50) proves no phantom — same stale base commits
    LakeWriteUtil.commitDelta(stale, stageDir,
      s"$loc/metadata/deletes/none", "update", Some(scanned),
      Array(org.apache.spark.sql.sources.EqualTo("id", 3L)))
    assert(count("SELECT count(*) FROM lake.db.morphant") == 12)
  }

  test("changelog pairs delta UPDATE into update_before/update_after") {
    sql("""CREATE TABLE lake.db.morucdc (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morucdc VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("UPDATE lake.db.morucdc SET v = 'B' WHERE id = 2")
    sql("""CALL lake.system.create_changelog_view(table => 'db.morucdc',
          |changelog_view => 'morucdc_changes',
          |identifier_columns => array('id'))""".stripMargin)
    val changes = sql(
      """SELECT id, v, _change_type FROM morucdc_changes
        |WHERE _change_type LIKE 'update%' ORDER BY _change_type""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(changes == Set((2L, "b", "update_before"), (2L, "B", "update_after")),
      changes.toString)
  }

  test("delta UPDATE on a branch leaves main untouched") {
    sql("""CREATE TABLE lake.db.morbr (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morbr VALUES (1,'a'),(2,'b')")
    sql("CALL lake.system.create_branch(table => 'db.morbr', branch => 'b1')")
    sql("UPDATE lake.db.morbr.branch_b1 SET v = 'patched' WHERE id = 2")
    val main = sql("SELECT v FROM lake.db.morbr WHERE id = 2").collect()(0).getString(0)
    val branch = sql("SELECT v FROM lake.db.morbr.branch_b1 WHERE id = 2")
      .collect()(0).getString(0)
    assert(main == "b", s"main must not see the branch delta: $main")
    assert(branch == "patched", branch)
  }

  test("time transform V2 functions follow the session timezone for timestamp") {
    import org.apache.spark.sql.types.{StructType, TimestampType, TimestampNTZType}
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      def days(dt: org.apache.spark.sql.types.DataType): String = {
        val bound = TransformFunctions.load("days").get
          .bind(new StructType().add("ts", dt))
          .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[
            org.apache.spark.unsafe.types.UTF8String]]
        val micros = java.time.Instant.parse("2026-01-01T00:30:00Z")
          .getEpochSecond * 1000000L
        bound.produceResult(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](micros))).toString
      }
      // TimestampType formats in the session zone (matches
      // Transforms.eval's date_format); NTZ is zone-free and stays UTC
      assert(days(TimestampType) == "2025-12-31")
      assert(days(TimestampNTZType) == "2026-01-01")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("changelog covers merge-on-read delete snapshots") {
    sql("""CREATE TABLE lake.db.morcdc (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.morcdc VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("DELETE FROM lake.db.morcdc WHERE id = 2")
    sql("""CALL lake.system.create_changelog_view(table => 'db.morcdc',
          |changelog_view => 'morcdc_changes')""".stripMargin)
    val changes = sql(
      "SELECT id, v, _change_type FROM morcdc_changes ORDER BY _change_ordinal, id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(changes.count(_._3 == "insert") == 3, changes.toString)
    assert(changes.filter(_._3 == "delete") == Seq((2L, "b", "delete")),
      s"mask rows must surface as deletes: $changes")
  }

  test("manifest spill: large snapshots round-trip through parquet manifests") {
    sql("""CREATE TABLE lake.db.spill (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.spill SELECT id FROM range(0, 10, 1, 4)") // 4 files
    assert(count("SELECT count(*) FROM lake.db.spill") == 10)
    val loc = sql("SELECT file_path FROM lake.db.spill.files LIMIT 1")
      .collect()(0).getString(0).replaceAll("/data/.*", "")
    val metaDir = new java.io.File(loc.stripPrefix("file:"), "metadata")
    val latest = metaDir.listFiles().filter(_.getName.matches("v\\d+\\.json"))
      .maxBy(_.getName)
    val json = new String(MetadataLog.readBytes(
      new org.apache.hadoop.fs.Path(latest.toURI), spark.sessionState.newHadoopConf()),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!json.contains(".parquet\""),
      "spilled JSON must not inline the file list")
    assert(json.contains("manifestPath"), json.take(500))
    assert(new java.io.File(metaDir, "manifests").exists)
    // rows survive a fresh load (hydration path) and further commits
    sql("INSERT INTO lake.db.spill VALUES (100)")
    assert(count("SELECT count(*) FROM lake.db.spill") == 11)
    val v1 = sql("SELECT min(snapshot_id) FROM lake.db.spill.snapshots")
      .collect()(0).getLong(0)
    assert(sql(s"SELECT * FROM lake.db.spill VERSION AS OF $v1").count() == 10)
  }

  test("compute_partition_stats writes manifest-derived stats") {
    sql("CREATE TABLE lake.db.pstats (id bigint, part string) USING lake PARTITIONED BY (part)")
    sql("INSERT INTO lake.db.pstats VALUES (1,'a'),(2,'a'),(3,'b')")
    val f = sql("CALL lake.system.compute_partition_stats(table => 'db.pstats')")
      .collect()(0).getString(0)
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f.stripPrefix("file:"))))
    assert(content.contains("row_count"), content)
    assert(content.contains("\"part\":\"a\"") || content.contains("part\" : \"a"),
      s"partition tuple present: $content")
  }

  test("changelog view") {
    sql("CREATE TABLE lake.db.cdc (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.cdc VALUES (1,'a'),(2,'b')")
    sql("INSERT INTO lake.db.cdc VALUES (3,'c')")
    sql("DELETE FROM lake.db.cdc WHERE id = 1")
    sql("""CALL lake.system.create_changelog_view(table => 'db.cdc',
          |changelog_view => 'cdc_changes')""".stripMargin)
    val changes = sql("SELECT id, _change_type, _change_ordinal FROM cdc_changes ORDER BY _change_ordinal, id, _change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(changes.contains((3L, "insert", 1)))
    assert(changes.exists(c => c._1 == 1L && c._2 == "delete"))
  }

  test("changelog view over a range of snapshots plans one ChangesScan") {
    sql("CREATE TABLE lake.db.cdcone (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.cdcone VALUES (1,'a'),(2,'b')")
    sql("INSERT INTO lake.db.cdcone VALUES (3,'c')")
    sql("UPDATE lake.db.cdcone SET v = 'B' WHERE id = 2")
    sql("DELETE FROM lake.db.cdcone WHERE id = 1")
    sql("""CALL lake.system.create_changelog_view(table => 'db.cdcone',
          |changelog_view => 'cdcone_v',
          |identifier_columns => array('id'))""".stripMargin)
    val df = sql("SELECT id, v, _change_type, _change_ordinal FROM cdcone_v")
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1 && leaves.forall {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.isInstanceOf[ChangesScan]
      case _ => false
    }, s"expected a single ChangesScan leaf over 4 snapshots:\n" +
      df.queryExecution.optimizedPlan.treeString)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(rows == Set((1L, "a", "insert", 0), (2L, "b", "insert", 0),
      (3L, "c", "insert", 1), (2L, "b", "update_before", 2),
      (2L, "B", "update_after", 2), (1L, "a", "delete", 3)), rows.toString)
  }

  test("changes scan prunes input partitions by _change_type filters") {
    sql("""CREATE TABLE lake.db.chprune (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.chprune SELECT id, concat('r', id) FROM range(0, 6, 1, 1)")
    sql("DELETE FROM lake.db.chprune WHERE id IN (2, 4)")
    sql("INSERT INTO lake.db.chprune VALUES (10, 'x')")
    sql("UPDATE lake.db.chprune SET v = 'y' WHERE id = 10")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))
    val all = sql("SELECT id, v, _change_type, _change_ordinal FROM " +
      "lake.db.chprune.changes").collect().map(key).toSeq
    for ((where, kinds) <- Seq(
        "_change_type = 'insert'" -> Set("insert"),
        "'delete' = _change_type" -> Set("delete"),
        "_change_type IN ('insert', 'delete') AND id > 3" ->
          Set("insert", "delete"))) {
      val q = sql("SELECT id, v, _change_type, _change_ordinal FROM " +
        s"lake.db.chprune.changes WHERE $where")
      val parts = q.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map(_.asInstanceOf[ChangesPartition].changeType)
      }.flatten
      assert(parts.nonEmpty && parts.toSet == kinds,
        s"$where planned ${parts.mkString(",")}")
      // the predicate still runs after the scan, so pruning cannot
      // change the answer
      val want = all.filter { case (id, _, t, _) =>
        kinds(t) && (kinds.size == 1 || id > 3) }
      assert(q.collect().map(key).toSeq.sorted == want.sorted, where)
    }
  }

  test("changelog view over an expired start snapshot fails naming it") {
    sql("CREATE TABLE lake.db.cdcexp (id bigint) USING lake")
    (1 to 3).foreach(i => sql(s"INSERT INTO lake.db.cdcexp VALUES ($i)"))
    val first = sql("SELECT snapshot_id FROM lake.db.cdcexp.snapshots " +
      "ORDER BY committed_at").collect().head.getLong(0)
    sql("CALL lake.system.expire_snapshots(table => 'db.cdcexp', " +
      "older_than => TIMESTAMP '2100-01-01 00:00:00', retain_last => 1)")
    // the oldest survivor has no parent any more: replaying it would
    // report every one of its rows as an insert
    val ex = intercept[Exception] {
      sql(s"""CALL lake.system.create_changelog_view(table => 'db.cdcexp',
             |changelog_view => 'cdcexp_v',
             |options => map('start-snapshot-id', '$first'))""".stripMargin)
    }
    assert(ex.getMessage.contains(first.toString), ex.getMessage)
  }

  test("changelog view with net_changes collapses intermediate states") {
    sql("CREATE TABLE lake.db.cdcnet (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.cdcnet VALUES (1,'a'),(2,'b')")
    sql("DELETE FROM lake.db.cdcnet WHERE id = 1")   // (1,'a') ins+del nets out
    sql("INSERT INTO lake.db.cdcnet VALUES (3,'c')")
    sql("""CALL lake.system.create_changelog_view(table => 'db.cdcnet',
          |changelog_view => 'cdcnet_changes', net_changes => true)""".stripMargin)
    val changes = sql(
      "SELECT id, v, _change_type FROM cdcnet_changes ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(changes == Seq((2L, "b", "insert"), (3L, "c", "insert")), changes.toString)
    // net_changes + compute_updates is rejected, matching the reference
    val ex = intercept[Exception] {
      sql("""CALL lake.system.create_changelog_view(table => 'db.cdcnet',
            |net_changes => true, compute_updates => true,
            |identifier_columns => array('id'))""".stripMargin)
    }
    assert(ex.getMessage.contains("net_changes"))
  }

  test("metadata tables are time-travelable") {
    sql("CREATE TABLE lake.db.mtt (id bigint) USING lake")
    sql("INSERT INTO lake.db.mtt VALUES (1)")
    sql("INSERT INTO lake.db.mtt VALUES (2)")
    val v1 = sql("SELECT min(snapshot_id) FROM lake.db.mtt.snapshots")
      .collect()(0).getLong(0)
    // snapshot log pinned to v1 sees one commit; live log sees two
    assert(sql(s"SELECT * FROM lake.db.mtt.snapshots VERSION AS OF $v1").count() == 1)
    assert(sql("SELECT * FROM lake.db.mtt.snapshots").count() == 2)
    assert(sql(s"SELECT * FROM lake.db.mtt.files VERSION AS OF $v1").count() <
      sql("SELECT * FROM lake.db.mtt.files").count())
  }

  test("filter pushdown prunes files") {
    sql("CREATE TABLE lake.db.prune (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.prune SELECT id, 'a' FROM range(1, 3)")      // ids 1-2
    sql("INSERT INTO lake.db.prune SELECT id, 'x' FROM range(100, 201, 100)") // ids 100,200
    val df = spark.sql("SELECT * FROM lake.db.prune WHERE id > 50")
    assert(df.count() == 2)
    val scanDesc = df.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("PushedFilters") || scanDesc.contains("ParquetScan"),
      s"expected a parquet scan with pushdown in:\n$scanDesc")
    // file pruning: only one of the two files should be scanned
    val scanned = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.inputFiles.length
          case _ => -1
        }
    }.sum
    val total = sql("SELECT count(*) FROM lake.db.prune.files").collect()(0).getLong(0)
    assert(scanned < total,
      s"expected min/max pruning to skip low-id files: scanned $scanned of $total")
  }

  test("decimal filter pushdown prunes in the unscaled stat space") {
    sql("CREATE TABLE lake.db.decp (id bigint, price decimal(10,2)) USING lake")
    sql("INSERT INTO lake.db.decp VALUES (1, 1.00), (2, 1.50), (3, 2.00)")
    sql("INSERT INTO lake.db.decp VALUES (4, 30.00), (5, 40.00)")
    // parquet footers store decimals UNSCALED (150 for 1.50); a literal
    // encoded scaled ("1.50") compares below every unscaled min and
    // wrongly skips the file that contains the row
    assert(sql("SELECT id FROM lake.db.decp WHERE price = 1.50")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(sql("SELECT count(*) FROM lake.db.decp WHERE price < 2.00")
      .collect().head.getLong(0) == 2L)
    assert(sql("SELECT count(*) FROM lake.db.decp WHERE price >= 30.00")
      .collect().head.getLong(0) == 2L)
    // and the skipping still prunes: a point lookup outside the second
    // commit's range must not plan its files
    val total = sql("SELECT count(*) FROM lake.db.decp.files")
      .collect().head.getLong(0)
    sql("SELECT id FROM lake.db.decp WHERE price = 35.00").collect()
    val planned = LakeScanBuilder.lastPlannedFileCount.get()
    assert(planned < total,
      s"expected decimal min/max to skip the 1.00-2.00 files: planned $planned of $total")
    sql("DROP TABLE lake.db.decp")
  }

  test("dictionary value-sets skip files min/max cannot") {
    sql("CREATE TABLE lake.db.vset (id bigint, cat string) USING lake")
    // both files span the same min/max range 'a'..'z' but hold
    // DIFFERENT value sets — range pruning alone cannot separate them
    sql("INSERT INTO lake.db.vset SELECT /*+ REPARTITION(1) */ id, elt(1 + cast(id % 3 AS int), 'a', 'mm', 'z') FROM range(1998)")
    sql("INSERT INTO lake.db.vset SELECT /*+ REPARTITION(1) */ id, elt(1 + cast(id % 3 AS int), 'a', 'qq', 'z') FROM range(1998, 3996)")
    assert(sql("SELECT count(*) FROM lake.db.vset.files")
      .collect().head.getLong(0) == 2L)
    assert(sql("SELECT count(*) FROM lake.db.vset WHERE cat = 'mm'")
      .collect().head.getLong(0) == 666L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "expected the value set to skip the 'qq' file")
    // IN follows the same path; both branches present keeps both files
    assert(sql("SELECT count(*) FROM lake.db.vset WHERE cat IN ('mm','qq')")
      .collect().head.getLong(0) == 1332L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 2)
    // value sets survive a manifest spill round-trip (cold cache,
    // distributed pruned planning path)
    sql("ALTER TABLE lake.db.vset SET TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='1')")
    sql("INSERT INTO lake.db.vset VALUES (999, 'bb')")
    Manifests.clearCacheForTesting()
    assert(sql("SELECT count(*) FROM lake.db.vset WHERE cat = 'qq'")
      .collect().head.getLong(0) == 666L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "expected value-set pruning through the spilled manifest")
    sql("DROP TABLE lake.db.vset")
  }

  test("incremental read skips row-preserving replace commits") {
    sql("CREATE TABLE lake.db.increp (id bigint) USING lake")
    sql("INSERT INTO lake.db.increp VALUES (1), (2)")
    val s1 = sql("SELECT max(snapshot_id) FROM lake.db.increp.snapshots")
      .collect()(0).getLong(0)
    sql("INSERT INTO lake.db.increp VALUES (3)")
    // compaction rewrites rows that already streamed — it must not
    // fail the range NOR re-emit them
    sql("CALL lake.system.rewrite_data_files(table => 'db.increp', " +
      "options => map('rewrite-all','true','min-input-files','1'))")
    sql("INSERT INTO lake.db.increp VALUES (4)")
    val rows = spark.read.option("start-snapshot-id", s1.toString)
      .table("lake.db.increp").select("id").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(3L, 4L),
      s"incremental range across a compaction must emit only appended rows: ${rows.toSeq}")
    sql("DROP TABLE lake.db.increp")
  }

  test("nested struct-field stats skip files at planning time") {
    sql("""CREATE TABLE lake.db.nstats (
          |  id bigint, meta struct<region: string, score: bigint>
          |) USING lake""".stripMargin)
    // two files with disjoint nested ranges; top-level id overlaps so
    // only the struct-leaf stats can separate them
    sql("INSERT INTO lake.db.nstats SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('region', 'east', 'score', id) FROM range(100)")
    sql("INSERT INTO lake.db.nstats SELECT /*+ REPARTITION(1) */ id, " +
      "named_struct('region', 'west', 'score', id + 1000) FROM range(100)")
    assert(count("SELECT count(*) FROM lake.db.nstats.files") == 2L)
    // equality on a nested string leaf
    assert(count(
      "SELECT count(*) FROM lake.db.nstats WHERE meta.region = 'east'") == 100L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "meta.region = 'east' must plan only the east file")
    // range on a nested numeric leaf
    assert(count(
      "SELECT count(*) FROM lake.db.nstats WHERE meta.score >= 1000") == 100L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "meta.score >= 1000 must plan only the west file")
    // no-match point lookup prunes everything
    assert(count(
      "SELECT count(*) FROM lake.db.nstats WHERE meta.score = 500") == 0L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 0,
      "an out-of-range nested point lookup must plan zero files")
    sql("DROP TABLE lake.db.nstats")
  }

  test("manifest bloom filters skip files for high-NDV point lookups") {
    // High-NDV probe column: dictionaries are disabled (so value sets
    // make no claim and parquet actually emits the bloom) and both
    // files span the same min/max range — only the manifest bloom can
    // separate them at planning time.
    sql("""CREATE TABLE lake.db.bloomskip (id bigint, k string) USING lake
          |TBLPROPERTIES (
          |  'write.parquet.bloom-filter-enabled.column.k'='true',
          |  'write.parquet.bloom-filter-expected-ndv.column.k'='1024',
          |  'write.parquet.dict-enabled.column.k'='false')""".stripMargin)
    // file A: even suffixes, file B: odd — interleaved, same range
    sql("INSERT INTO lake.db.bloomskip SELECT /*+ REPARTITION(1) */ id, " +
      "format_string('v%05d', id * 2) FROM range(500)")
    sql("INSERT INTO lake.db.bloomskip SELECT /*+ REPARTITION(1) */ id, " +
      "format_string('v%05d', id * 2 + 1) FROM range(500)")
    val metas = sql("SELECT count(*) FROM lake.db.bloomskip.files").collect()
    assert(metas.head.getLong(0) == 2L)
    // the harvest actually lifted blooms into the manifest
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "bloomskip")).asInstanceOf[LakeTable]
    val files = t.meta.snapshots.last.files
    assert(files.forall(_.blooms.contains("k")),
      s"expected manifest blooms on k, got ${files.map(_.blooms.keySet)}")
    // point lookup on an odd suffix: bloom keeps file B, skips file A
    assert(sql("SELECT count(*) FROM lake.db.bloomskip WHERE k = 'v00111'")
      .collect().head.getLong(0) == 1L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "expected the manifest bloom to skip the even-suffix file")
    // IN over both parities keeps both files
    assert(sql("SELECT count(*) FROM lake.db.bloomskip " +
      "WHERE k IN ('v00110','v00111')").collect().head.getLong(0) == 2L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 2)
    // an absent value prunes everything: zero files planned
    assert(sql("SELECT count(*) FROM lake.db.bloomskip WHERE k = 'w99999'")
      .collect().head.getLong(0) == 0L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 0,
      "expected blooms to prune every file for an absent value")
    // blooms survive a manifest spill round-trip (cold cache,
    // distributed pruned planning path)
    sql("ALTER TABLE lake.db.bloomskip SET TBLPROPERTIES " +
      "('write.metadata.manifest.spill-threshold'='1')")
    sql("INSERT INTO lake.db.bloomskip VALUES (9999, 'zz')")
    Manifests.clearCacheForTesting()
    assert(sql("SELECT count(*) FROM lake.db.bloomskip WHERE k = 'v00111'")
      .collect().head.getLong(0) == 1L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "expected bloom pruning through the spilled manifest")
    sql("DROP TABLE lake.db.bloomskip")
  }

  test("dataframe writer v2 and read options") {
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .writeTo("lake.db.dfw").using("lake").create()
    assert(count("SELECT count(*) FROM lake.db.dfw") == 2)
    Seq((3L, "c")).toDF("id", "v").writeTo("lake.db.dfw").append()
    assert(count("SELECT count(*) FROM lake.db.dfw") == 3)
    val firstSnap = sql("SELECT min(snapshot_id) FROM lake.db.dfw.snapshots")
      .collect()(0).getLong(0)
    val old = spark.read.option("snapshot-id", firstSnap.toString)
      .table("lake.db.dfw")
    assert(old.count() == 2)
    Seq((9L, "z")).toDF("id", "v").writeTo("lake.db.dfw").overwritePartitions()
    assert(count("SELECT count(*) FROM lake.db.dfw") == 1)
  }

  test("dropped-then-re-added column reads null in old files") {
    sql("CREATE TABLE lake.db.readd (id bigint, x bigint) USING lake")
    sql("INSERT INTO lake.db.readd VALUES (1, 100)")
    sql("ALTER TABLE lake.db.readd DROP COLUMN x")
    sql("ALTER TABLE lake.db.readd ADD COLUMN x bigint")
    sql("INSERT INTO lake.db.readd VALUES (2, 200)")
    val rows = sql("SELECT id, x FROM lake.db.readd ORDER BY id").collect()
    // old file's dropped x=100 must NOT leak into the re-added column
    assert(rows(0).isNullAt(1), s"expected null for re-added column, got ${rows(0)}")
    assert(rows(1).getLong(1) == 200)
  }

  test("stale-base commit surfaces a concurrent-modification conflict") {
    sql("CREATE TABLE lake.db.conflict (id bigint) USING lake")
    sql("INSERT INTO lake.db.conflict VALUES (1)")
    val conf = spark.sessionState.newHadoopConf()
    val loc = s"$wh/db/conflict"
    val stale = MetadataLog.load(loc, conf)
    sql("INSERT INTO lake.db.conflict VALUES (2)") // concurrent commit
    intercept[java.util.ConcurrentModificationException] {
      MetadataLog.commit(stale, conf) // would erase the concurrent insert
    }
    // the concurrent commit survived
    assert(count("SELECT count(*) FROM lake.db.conflict") == 2)
  }

  test("incremental read rejects non-append history and branch snapshots") {
    sql("CREATE TABLE lake.db.incr (id bigint) USING lake")
    sql("INSERT INTO lake.db.incr VALUES (1)")
    sql("INSERT INTO lake.db.incr VALUES (2)")
    val snaps = sql("SELECT snapshot_id FROM lake.db.incr.snapshots ORDER BY snapshot_id")
      .collect().map(_.getLong(0))
    // append-only range works
    assert(spark.read.option("start-snapshot-id", snaps(0).toString)
      .table("lake.db.incr").collect().map(_.getLong(0)).toSeq == Seq(2L))
    sql("DELETE FROM lake.db.incr WHERE id = 1")
    val ex = intercept[Exception] {
      spark.read.option("start-snapshot-id", snaps(0).toString)
        .table("lake.db.incr").collect()
    }
    assert(ex.getMessage.contains("append"), ex.getMessage)
  }

  test("maintenance plans without hydrating spilled manifests on the driver") {
    sql("""CREATE TABLE lake.db.maintlazy (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.maintlazy SELECT id FROM range(0, 12, 1, 4)")
    // overwrite: the first snapshot's files become uniquely dead
    sql("INSERT OVERWRITE lake.db.maintlazy SELECT id FROM range(0, 9, 1, 3)")
    val loc = s"$wh/db/maintlazy"
    def dataFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$loc/data"))
    }
    val before = dataFiles().length
    assert(before == 7, s"4 overwritten + 3 live files expected, got $before")
    val cutoff = java.time.Instant.now().plusSeconds(60)
    // both maintenance procedures difference their path sets through
    // distributed scans over the manifest parquet; the driver-side
    // manifest cache staying cold PROVES no snapshot was hydrated —
    // the property that keeps maintenance O(changed) at 100 TB
    Manifests.clearCacheForTesting()
    sql("""CALL lake.system.remove_orphan_files(table => 'db.maintlazy',
        |dry_run => true)""".stripMargin).collect()
    assert(Manifests.cacheSize == 0,
      "remove_orphan_files must not hydrate spilled manifests")
    val exp = sql(
      s"""CALL lake.system.expire_snapshots(table => 'db.maintlazy',
         |older_than => TIMESTAMP '${java.sql.Timestamp.from(cutoff)}',
         |retain_last => 1)""".stripMargin).collect()(0)
    assert(Manifests.cacheSize == 0,
      "expire_snapshots must not hydrate spilled manifests")
    assert(exp.getLong(0) == 4L,
      s"the 4 overwritten files retire: ${exp}")
    assert(dataFiles().length == 3, "live files survive the expire")
    assert(count("SELECT count(*) FROM lake.db.maintlazy") == 9)
    sql("DROP TABLE lake.db.maintlazy")
  }

  test("footer stats harvest distributes for wide commits, same result") {
    val saved = FileStats.DistributedFooterThreshold
    try {
      sql("CREATE TABLE lake.db.widestats (id bigint, cat string) USING lake")
      sql("""INSERT INTO lake.db.widestats
          |SELECT id, chr(97 + cast(id % 3 AS int)) FROM range(0, 30, 1, 2)""".stripMargin)
      // force the executor-side path for the next commit's 6 files
      FileStats.DistributedFooterThreshold = 2
      sql("""INSERT INTO lake.db.widestats
          |SELECT id, chr(97 + cast(id % 3 AS int)) FROM range(30, 90, 1, 6)""".stripMargin)
      assert(count("SELECT count(*) FROM lake.db.widestats") == 90)
      // stats harvested on executors must be byte-identical to the
      // driver path: file skipping and value sets still work
      val planned = sql(
        "SELECT count(*) FROM lake.db.widestats WHERE id >= 60").collect()
        .head.getLong(0)
      assert(planned == 30)
      val stats = sql("SELECT record_count FROM lake.db.widestats.files")
        .collect()
      assert(stats.forall(_.getLong(0) > 0), "row counts present")
    } finally {
      FileStats.DistributedFooterThreshold = saved
      sql("DROP TABLE IF EXISTS lake.db.widestats")
    }
  }

  test("remove_orphan_files age guard protects freshly staged files") {
    sql("CREATE TABLE lake.db.fresh_orphan (id bigint) USING lake")
    sql("INSERT INTO lake.db.fresh_orphan VALUES (1)")
    // plant an unreferenced file that is brand new (in-flight write)
    val dataDir = new java.io.File(s"$wh/db/fresh_orphan/data/inflight")
    dataDir.mkdirs()
    val planted = new java.io.File(dataDir, "part-inflight.parquet")
    java.nio.file.Files.write(planted.toPath, Array[Byte](1, 2, 3))
    val deleted = sql(
      "CALL lake.system.remove_orphan_files(table => 'db.fresh_orphan')")
      .collect()
    assert(deleted.isEmpty, s"fresh file must be protected: ${deleted.mkString}")
    assert(planted.exists())
    // with an explicit future cutoff it IS removed
    val cutoff = java.time.Instant.now().plusSeconds(60)
    val removed = sql(
      s"""CALL lake.system.remove_orphan_files(table => 'db.fresh_orphan',
         |older_than => TIMESTAMP '${java.sql.Timestamp.from(cutoff)}')""".stripMargin)
      .collect()
    assert(removed.length == 1 && !planted.exists())
    assert(count("SELECT count(*) FROM lake.db.fresh_orphan") == 1)
  }

  test("selective scans over a spilled manifest plan distributed, pruned") {
    sql("""CREATE TABLE lake.db.spillplan (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.spillplan SELECT id FROM range(0, 40, 1, 8)")
    // cold start: the table must be re-loaded with a LAZY manifest
    // pointer, and the selective query must take the pruned-plan path
    Manifests.clearCacheForTesting()
    Manifests.lastPrunedPlanCount.set(-1)
    val r = sql("SELECT id FROM lake.db.spillplan WHERE id = 7").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(7L))
    val planned = Manifests.lastPrunedPlanCount.get
    assert(planned >= 1, "pruned distributed planning path must be used")
    assert(planned < 8,
      s"driver must materialize only surviving files, got $planned of 8")
    // unfiltered scans still read everything
    assert(count("SELECT count(*) FROM lake.db.spillplan") == 40)
  }

  test("manifest cache evicts per-entry LRU, not clear-all") {
    Manifests.clearCacheForTesting()
    (0 until 65).foreach(i => Manifests.cachePut(s"/lru-probe/dir-$i", Nil))
    assert(Manifests.cacheSize == 64,
      s"65th insert must evict exactly one entry, size=${Manifests.cacheSize}")
    assert(!Manifests.cacheContains("/lru-probe/dir-0"), "eldest evicted")
    assert(Manifests.cacheContains("/lru-probe/dir-1"))
    assert(Manifests.cacheContains("/lru-probe/dir-64"))
    // re-access promotes: dir-1 survives the next eviction, dir-2 goes
    assert(Manifests.read("/lru-probe/dir-1",
      spark.sessionState.newHadoopConf()).isEmpty)
    Manifests.cachePut("/lru-probe/dir-65", Nil)
    assert(Manifests.cacheContains("/lru-probe/dir-1"))
    assert(!Manifests.cacheContains("/lru-probe/dir-2"))
    Manifests.clearCacheForTesting()
  }

  test("a re-spilled snapshot's old dir survives for already-loaded readers") {
    sql("""CREATE TABLE lake.db.spillkeep (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')""".stripMargin)
    sql("INSERT INTO lake.db.spillkeep SELECT id FROM range(0, 12, 1, 4)")
    val loc = sql("SELECT file_path FROM lake.db.spillkeep.files LIMIT 1")
      .collect()(0).getString(0).replaceAll("/data/.*", "").stripPrefix("file:")
    val conf = spark.sessionState.newHadoopConf()
    // a long-lived reader: loaded now, file list not yet forced
    val reader = MetadataLog.load(loc, conf)
    // a writer mutates the spilled snapshot's file list → re-spill to
    // a fresh dir; the old dir must NOT be deleted inline
    val m = MetadataLog.load(loc, conf)
    MetadataLog.commit(m.copy(snapshots = m.snapshots.map(s =>
      s.copy(files = s.files.reverse))), conf)
    Manifests.clearCacheForTesting() // the reader may be another process
    assert(reader.snapshots.head.files.size == 4,
      "already-loaded lazy reader must still hydrate the old spill")
    // and the retired dir is reclaimed by the age-guarded orphan sweep
    val cutoff = java.time.Instant.now().plusSeconds(60)
    sql(s"""CALL lake.system.remove_orphan_files(table => 'db.spillkeep',
       |older_than => TIMESTAMP '${java.sql.Timestamp.from(cutoff)}')""".stripMargin)
      .collect()
    val live = MetadataLog.load(loc, conf)
    Manifests.clearCacheForTesting()
    assert(live.snapshots.head.files.size == 4, "live spill survives the sweep")
    assert(count("SELECT count(*) FROM lake.db.spillkeep") == 12)
  }

  test("tbl.changes surfaces the raw changelog including carry-over rows") {
    sql("CREATE TABLE lake.db.chraw (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.chraw SELECT id, concat('r', id) FROM range(1, 3, 1, 1)")
    // CoW delete rewrites the shared file: id=1 re-emits as a
    // carry-over delete+insert pair — the changes TABLE keeps it
    sql("DELETE FROM lake.db.chraw WHERE id = 2")
    val rows = sql("""SELECT id, _change_type, _change_ordinal FROM
        |lake.db.chraw.changes ORDER BY _change_ordinal, id, _change_type""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq(
      (1L, "insert", 0), (2L, "insert", 0),
      (1L, "delete", 1), (1L, "insert", 1), (2L, "delete", 1)),
      s"raw changes with carry-overs expected: $rows")
    // merge-on-read masks surface as position-exact deletes
    sql("""CREATE TABLE lake.db.chmor (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.chmor SELECT id, concat('r', id) FROM range(0, 6, 1, 1)")
    sql("DELETE FROM lake.db.chmor WHERE id IN (2, 4)")
    val mor = sql("""SELECT id, _change_type FROM lake.db.chmor.changes
        |WHERE _change_ordinal = 1 ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(mor == Seq((2L, "delete"), (4L, "delete")),
      s"MoR masks must surface only the masked rows: $mor")
    // snapshot-range read options work like the procedure's
    val snaps = sql("SELECT snapshot_id FROM lake.db.chraw.snapshots ORDER BY snapshot_id")
      .collect().map(_.getLong(0))
    val ranged = spark.read.option("start-snapshot-id", snaps(0).toString)
      .table("lake.db.chraw.changes").count()
    assert(ranged == 3, s"range [after snap1] = the delete commit's diffs: $ranged")
  }

  test("WAP branch commit skips cross-ref validation (documented contract)") {
    sql("""CREATE TABLE lake.db.wapx (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.wapx SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "wapx")
    val stale = cat.loadTable(ident).asInstanceOf[LakeTable]
    val scanned = stale.meta.currentSnapshot("main").get.files.map(_.path)
    // a concurrent append on MAIN — a phantom for a same-ref commit
    sql("INSERT INTO lake.db.wapx VALUES (50, 'new')")
    val loc = stale.meta.location
    val stageDir = s"$loc/data/wapx-stage"
    sql("SELECT CAST(5000 AS bigint) AS id, 'x' AS v")
      .coalesce(1).write.parquet(stageDir)
    spark.conf.set("spark.wap.branch", "audit")
    try {
      // cross-ref: scanned main, commits to 'audit' — the phantom
      // validation is DELIBERATELY skipped (SURVEY.md §7.6: WAP stages
      // are reconciled at publish time, there is no single lineage to
      // compare). This spec pins the contract.
      LakeWriteUtil.commitDelta(stale, stageDir,
        s"$loc/metadata/deletes/none", "merge", Some(scanned))
    } finally spark.conf.unset("spark.wap.branch")
    assert(count("SELECT count(*) FROM lake.db.wapx") == 11,
      "main must not see the WAP-staged row")
    assert(count("SELECT count(*) FROM lake.db.wapx VERSION AS OF 'audit'") == 12,
      "the audit branch carries the staged row")
  }

  test("expire_snapshots deletes nothing when its commit loses the CAS") {
    sql("CREATE TABLE lake.db.expirecas (id bigint) USING lake")
    sql("INSERT INTO lake.db.expirecas VALUES (1)")
    // overwrite: snapshot 1's files are dead once it expires (an
    // append would share them with the surviving head)
    sql("INSERT OVERWRITE lake.db.expirecas VALUES (2)")
    val loc = s"$wh/db/expirecas"
    val conf = spark.sessionState.newHadoopConf()
    val before = MetadataLog.load(loc, conf)
    val expiredFiles = before.snapshots.head.files.map(_.path)
    assert(expiredFiles.nonEmpty)
    // occupy the next version slot so the procedure's commit loses the
    // CAS — physical deletion must not have happened by then
    val blocker = new java.io.File(loc,
      f"metadata/v${before.version + 1}%05d.json")
    java.nio.file.Files.write(blocker.toPath,
      java.nio.file.Files.readAllBytes(new java.io.File(loc,
        f"metadata/v${before.version}%05d.json").toPath))
    intercept[java.util.ConcurrentModificationException] {
      sql("""CALL lake.system.expire_snapshots(table => 'db.expirecas',
          |retain_last => 1,
          |older_than => TIMESTAMP '2099-01-01 00:00:00')""".stripMargin)
        .collect()
    }
    expiredFiles.foreach(p =>
      assert(new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else s"file://$p").getPath).exists(),
        s"lost CAS must leave expired snapshot's files intact: $p"))
    blocker.delete()
    assert(count("SELECT count(*) FROM lake.db.expirecas") == 1)
    // time travel to the "expired" snapshot still works — nothing was lost
    val v1 = before.snapshots.head.snapshotId
    assert(sql(s"SELECT * FROM lake.db.expirecas VERSION AS OF $v1")
      .count() == 1)
  }

  test("scan reports manifest statistics; small MoR-masked dim auto-broadcasts") {
    sql("""CREATE TABLE lake.db.statdim (id bigint, name string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.statdim VALUES (1,'a'),(2,'b'),(3,'c')")
    sql("DELETE FROM lake.db.statdim WHERE id = 2") // mask => PosDeleteScan path
    sql("CREATE TABLE lake.db.statfact (id bigint, qty bigint) USING lake")
    sql("INSERT INTO lake.db.statfact SELECT id % 3 + 1, id FROM range(1000)")

    val df = sql("""SELECT f.qty, d.name FROM lake.db.statfact f
                 |JOIN lake.db.statdim d ON f.id = d.id""".stripMargin)
    // the masked dim's DSv2 relation must carry REAL stats (pre-stats it
    // fell back to defaultSizeInBytes = Long.Max and could never
    // STATICALLY broadcast — only AQE could rescue it at runtime)
    val dimRel = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.description().contains("PosDeleteScan") ||
            r.scan.isInstanceOf[LakeBatchScan] => r
    }
    assert(dimRel.nonEmpty, df.queryExecution.optimizedPlan.toString)
    val dimStats = dimRel.map(_.stats.sizeInBytes).min
    assert(dimStats < 1024 * 1024,
      s"masked dim should report a small size, got $dimStats")
    // static physical plan (pre-AQE) already picks a broadcast join
    assert(df.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      df.queryExecution.sparkPlan.toString)
    val rows = df.collect()
    assert(rows.length == 667 && !rows.exists(_.getString(1) == "b"))
  }

  test("storage-partitioned join: co-partitioned identity tables, no shuffle") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      sql("""CREATE TABLE lake.db.spja (id bigint, cat string) USING lake
          |PARTITIONED BY (cat)""".stripMargin)
      sql("""INSERT INTO lake.db.spja
          |SELECT id, concat('c', cast(id % 4 AS string)) FROM range(200)""".stripMargin)
      sql("""CREATE TABLE lake.db.spjb (v bigint, cat string) USING lake
          |PARTITIONED BY (cat)""".stripMargin)
      sql("""INSERT INTO lake.db.spjb
          |SELECT id * 10, concat('c', cast(id % 4 AS string)) FROM range(40)""".stripMargin)

      // second append: multiple files per tuple — Spark must GROUP the
      // keyed input partitions, not assume one per key
      sql("""INSERT INTO lake.db.spja
          |SELECT id + 200, concat('c', cast(id % 4 AS string))
          |FROM range(40)""".stripMargin)

      val df = sql("""SELECT a.id, b.v FROM lake.db.spja a
                   |JOIN lake.db.spjb b ON a.cat = b.cat""".stripMargin)
      assert(df.count() == (200L + 40) * 40 / 4)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-partitioned join must not shuffle either side:\n$plan")

      // bucket-partitioned: keys come from the manifest's bucket ids,
      // the bucket transform resolves through the FunctionCatalog
      sql("""CREATE TABLE lake.db.spjc (id bigint, x string) USING lake
          |PARTITIONED BY (bucket(8, id))""".stripMargin)
      sql("INSERT INTO lake.db.spjc SELECT id, concat('x', id) FROM range(100)")
      sql("""CREATE TABLE lake.db.spjd (id bigint, y string) USING lake
          |PARTITIONED BY (bucket(8, id))""".stripMargin)
      sql("INSERT INTO lake.db.spjd SELECT id, concat('y', id) FROM range(50)")

      val bdf = sql("""SELECT a.x, b.y FROM lake.db.spjc a
                    |JOIN lake.db.spjd b ON a.id = b.id""".stripMargin)
      assert(bdf.count() == 50)
      val bplan = bdf.queryExecution.executedPlan.toString
      assert(!bplan.contains("Exchange"),
        s"bucket-co-partitioned join must not shuffle either side:\n$bplan")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("storage-partitioned join on identity keys is sort-free too") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      sql("""CREATE TABLE lake.db.spjs1 (id bigint, cat string) USING lake
          |PARTITIONED BY (cat)""".stripMargin)
      sql("""INSERT INTO lake.db.spjs1
          |SELECT id, concat('c', cast(id % 4 AS string)) FROM range(80)""".stripMargin)
      sql("""CREATE TABLE lake.db.spjs2 (v bigint, cat string) USING lake
          |PARTITIONED BY (cat)""".stripMargin)
      sql("""INSERT INTO lake.db.spjs2
          |SELECT id * 2, concat('c', cast(id % 4 AS string)) FROM range(40)""".stripMargin)
      val df = sql("""SELECT a.id, b.v FROM lake.db.spjs1 a
                   |JOIN lake.db.spjs2 b ON a.cat = b.cat""".stripMargin)
      assert(df.count() == 80L * 40 / 4)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      // within a key group the identity column is constant, the scan
      // reports that ordering, and the sort-merge join needs no sorts.
      // (String match, not collect: AdaptiveSparkPlanExec does not
      // expose its inner plan to TreeNode.collect.)
      assert(sortNodes(plan) == 0,
        s"identity-keyed SPJ must not re-sort constant columns:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("storage-partitioned join on bucket keys is sort-free with write order") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def mkTable(name: String, valCol: String): Unit = {
        sql(s"""CREATE TABLE lake.db.$name (id bigint, $valCol string)
             |USING lake PARTITIONED BY (bucket(4, id))""".stripMargin)
        // WRITE ORDERED BY the bucket SOURCE column: the write sorts
        // (bucket(id), id) per task, so each single-tuple file is
        // internally sorted by id and commits with that provenance.
        // (This suite runs without the DDL parser extension, so the
        // command behind `ALTER TABLE ... WRITE ORDERED BY` runs
        // directly.)
        LakeWriteOrderCommand(Seq("lake", "db", name), Seq("id")).run(spark)
      }
      mkTable("spjbs1", "x")
      sql("INSERT INTO lake.db.spjbs1 SELECT id, concat('x', id) FROM range(120)")
      mkTable("spjbs2", "y")
      sql("INSERT INTO lake.db.spjbs2 SELECT id, concat('y', id) FROM range(60)")

      val df = sql("""SELECT a.x, b.y FROM lake.db.spjbs1 a
                   |JOIN lake.db.spjbs2 b ON a.id = b.id""".stripMargin)
      assert(df.count() == 60)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-co-partitioned join must not shuffle:\n$plan")
      // every key group is one write-ordered file in one input
      // partition, the scan reports the id ordering, and the
      // sort-merge join drops BOTH SortExecs
      assert(sortNodes(plan) == 0,
        s"write-ordered bucket SPJ must not re-sort:\n$plan")

      // soundness valve: a second append gives some group two files,
      // whose concatenation is NOT id-sorted — the ordering claim must
      // withdraw (a sort reappears on that side) while the exchange
      // stays eliminated
      sql("INSERT INTO lake.db.spjbs1 SELECT id + 120, concat('x', id) FROM range(20)")
      val df2 = sql("""SELECT a.x, b.y FROM lake.db.spjbs1 a
                    |JOIN lake.db.spjbs2 b ON a.id = b.id""".stripMargin)
      assert(df2.count() == 60)
      val plan2 = df2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange"), plan2)
      assert(sortNodes(plan2) >= 1,
        s"multi-file groups must withdraw the ordering claim:\n$plan2")

      // sort-strategy compaction rewrites each bucket back to one
      // sorted stamped file — the claim (and the sort-free plan) must
      // come back. This is the production shape: steady-state bucket
      // tables are compacted, so the sorts stay dropped.
      sql("""CALL lake.system.rewrite_data_files(table => 'db.spjbs1',
           |strategy => 'sort', sort_order => 'id',
           |options => map('min-input-files', '1', 'rewrite-all', 'true'))"""
        .stripMargin)
      val df3 = sql("""SELECT a.x, b.y FROM lake.db.spjbs1 a
                    |JOIN lake.db.spjbs2 b ON a.id = b.id""".stripMargin)
      assert(df3.count() == 60)
      val plan3 = df3.queryExecution.executedPlan.toString
      assert(!plan3.contains("Exchange"), plan3)
      assert(sortNodes(plan3) == 0,
        s"sort-strategy compaction must restore the sort-free claim:\n$plan3")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("WRITE ORDERED BY normalizes direction tokens and honors DESC") {
    sql("CREATE TABLE lake.db.wodesc (id bigint, cat string) USING lake")
    LakeWriteOrderCommand(Seq("lake", "db", "wodesc"),
      Seq("cat ASC NULLS LAST", "id DESC")).run(spark)
    val meta = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
      .loadMeta(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "wodesc"))
    // direction tokens become part of the normalized ENTRY, never the
    // column name (the old parser stored "cat ASC NULLS LAST" as a
    // column, silently corrupting the write ordering)
    assert(meta.sortOrder == Seq("cat nulls last", "id desc"), meta.sortOrder)
    // a write under this order really is cat-asc, id-desc within files
    sql("""INSERT INTO lake.db.wodesc
         |SELECT id, concat('c', cast(id % 3 AS string)) FROM range(30)""".stripMargin)
    val m2 = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
      .loadMeta(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "wodesc"))
    val file = m2.currentSnapshot("main").get.files.head
    assert(file.sortedBy == Seq("cat nulls last", "id desc"), file.sortedBy)
    val rows = spark.read.parquet(file.path)
      .select("cat", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.sameElements(rows.sortBy { case (c, i) => (c, -i) }),
      s"file rows must be (cat asc, id desc)-sorted: ${rows.take(10).toSeq}")
    // unknown tokens fail loudly instead of becoming column names
    intercept[IllegalArgumentException] {
      LakeWriteOrderCommand(Seq("lake", "db", "wodesc"),
        Seq("id SIDEWAYS")).run(spark)
    }
    intercept[IllegalArgumentException] {
      LakeWriteOrderCommand(Seq("lake", "db", "wodesc"),
        Seq("nosuchcol")).run(spark)
    }
  }

  test("LIMIT plans only enough files to cover the limit") {
    sql("CREATE TABLE lake.db.limt (id bigint, v string) USING lake")
    for (i <- 0 until 4)
      sql(s"INSERT INTO lake.db.limt SELECT id + ${i * 100}, 'x' FROM range(100)")
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    // collect(), not count(): count() is answered by the aggregate
    // pushdown without planning any files at all
    assert(sql("SELECT * FROM lake.db.limt").collect().length == 400)
    val total = LakeScanBuilder.lastPlannedFileCount.get()
    assert(total >= 4, s"expected >=4 data files, saw $total")

    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT * FROM lake.db.limt LIMIT 5").collect().length == 5)
    val limited = LakeScanBuilder.lastPlannedFileCount.get()
    assert(limited >= 1 && limited < total,
      s"limit should truncate the planned file list: $limited of $total")

    // a WHERE makes per-file coverage unknowable — no truncation
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT * FROM lake.db.limt WHERE v = 'x' LIMIT 5")
      .collect().length == 5)

    // planning metrics surface on the scan (SQL UI plumbing)
    val full = sql("SELECT * FROM lake.db.limt")
    full.collect()
    val scans = full.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }
    assert(scans.nonEmpty)
    val m = scans.head.asInstanceOf[LakeBatchScan].reportDriverMetrics()
      .map(x => x.name -> x.value).toMap
    assert(m("plannedDataFiles") >= 4 && m("plannedBytes") > 0 &&
      m("maskedDataFiles") == 0 && m.get("skippedDataFiles").contains(0L),
      m.toString)
  }

  test("count/min/max answer from manifest stats: metadata-only plan") {
    sql("""CREATE TABLE lake.db.aggt (id bigint, cat string) USING lake
        |PARTITIONED BY (cat)""".stripMargin)
    sql("""INSERT INTO lake.db.aggt
        |SELECT id, concat('c', cast(id % 4 AS string)) FROM range(400)""".stripMargin)

    val g = sql("SELECT count(*), min(id), max(id), count(cat) FROM lake.db.aggt")
    assert(g.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"global agg must not scan data files:\n${g.queryExecution.executedPlan}")
    val r = g.collect()(0)
    assert(r.getLong(0) == 400 && r.getLong(1) == 0L &&
      r.getLong(2) == 399L && r.getLong(3) == 400)

    // GROUP BY the identity partition column: files are provably
    // single-valued on it (min==max, no nulls), so still metadata-only
    val gb = sql("""SELECT cat, count(*) AS c, max(id) AS m
                 |FROM lake.db.aggt GROUP BY cat ORDER BY cat""".stripMargin)
    assert(gb.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"partition-grouped agg must not scan data files:\n${gb.queryExecution.executedPlan}")
    val rows = gb.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(rows.length == 4 && rows.forall(_._2 == 100))
    assert(rows.find(_._1 == "c3").exists(_._3 == 399))

    // a WHERE declines the pushdown — normal scan, same answers
    val w = sql("SELECT count(*) FROM lake.db.aggt WHERE cat = 'c1'")
    assert(!w.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(w.collect()(0).getLong(0) == 100)

    // schema-epoch rename: stats written under the old name still serve
    sql("ALTER TABLE lake.db.aggt RENAME COLUMN id TO ident")
    val ren = sql("SELECT max(ident) FROM lake.db.aggt")
    assert(ren.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(ren.collect()(0).getLong(0) == 399L)

    // MoR delete masks decline (stats can't see masked rows)
    sql("""CREATE TABLE lake.db.aggmor (id bigint) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.aggmor SELECT id FROM range(10)")
    sql("DELETE FROM lake.db.aggmor WHERE id >= 8")
    val mor = sql("SELECT count(*) FROM lake.db.aggmor")
    assert(!mor.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(mor.collect()(0).getLong(0) == 8)
  }

  test("decimal stats: metadata min/max and pruning in the unscaled space") {
    // the Decimal seam (r9 audit): footer stats carry the UNSCALED
    // integer whatever the physical backing; every consumer must
    // re-attach the COLUMN's scale. Metadata MIN/MAX must answer the
    // scaled value, pruning literals must rescale into the same
    // space, and an unrepresentable literal must decline (keep
    // files), never round.
    sql("CREATE TABLE lake.db.dect (id bigint, price decimal(9,2)) USING lake")
    sql("""INSERT INTO lake.db.dect SELECT /*+ REPARTITION(1) */ id,
          |cast(id + 0.25 AS decimal(9,2)) FROM range(8)""".stripMargin)
    sql("""INSERT INTO lake.db.dect SELECT /*+ REPARTITION(1) */ id + 8,
          |cast(id + 100.25 AS decimal(9,2)) FROM range(4)""".stripMargin)

    val g = sql("SELECT min(price) AS mn, max(price) AS mx FROM lake.db.dect")
    assert(g.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"decimal min/max must answer from metadata:\n${g.queryExecution.executedPlan}")
    val r = g.collect()(0)
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.25")) == 0,
      s"min must be the SCALED value, got ${r.getDecimal(0)}")
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("103.25")) == 0,
      s"max must be the SCALED value, got ${r.getDecimal(1)}")

    // range pruning: the literal (scale 1) rescales to the column's
    // scale-2 unscaled space; only the second file can match
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT * FROM lake.db.dect WHERE price > 50.5")
      .collect().length == 4)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "scale-rescaled decimal literal must prune the low-range file")

    // a literal the column scale cannot represent: Catalyst usually
    // folds the predicate away before any scan plans (no rows can
    // match), but if such a literal ever REACHES the stats layer the
    // claim must decline (keep files), never round into the unscaled
    // space — pinned directly on encodeLiteral
    assert(sql("SELECT * FROM lake.db.dect WHERE price = 1.333")
      .collect().isEmpty)
    assert(FileStats.encodeLiteral(new java.math.BigDecimal("1.333"),
      org.apache.spark.sql.types.DecimalType(9, 2)).isEmpty,
      "unrepresentable decimal literal must decline, not round")
    assert(FileStats.encodeLiteral(new java.math.BigDecimal("50.5"),
      org.apache.spark.sql.types.DecimalType(9, 2)).contains("5050"),
      "representable literal must rescale into the unscaled space")
  }

  test("collated string columns: stats consumers decline, results exact") {
    // the collation seam (r9 audit): a collated column's parquet
    // footer min/max are UNSIGNED-BYTE-ordered, but its comparison
    // semantics are collation-defined — using byte-ordered stats to
    // prune a collation-aware predicate would drop matching files
    // (e.g. 'b' < 'A' under UTF8_LCASE but not in byte order). Every
    // stats consumer must make NO CLAIM for collated types: cmp's
    // StringType pattern matches only the binary collation, so
    // pruning keeps all files, metadata MIN/MAX declines to the scan
    // (collation-aware MIN differs from byte MIN), and Spark's own
    // collation-aware evaluation answers exactly.
    sql("""CREATE TABLE lake.db.collt
          |(id bigint, c string COLLATE UTF8_LCASE) USING lake""".stripMargin)
    sql("""INSERT INTO lake.db.collt SELECT /*+ REPARTITION(1) */ id,
          |CASE WHEN id = 0 THEN 'a' ELSE 'D' END FROM range(4)""".stripMargin)
    sql("""INSERT INTO lake.db.collt SELECT /*+ REPARTITION(1) */ id + 4,
          |'A' FROM range(2)""".stripMargin)
    // case-insensitive equality must see 'D' ('d' = 'D' under LCASE)
    assert(sql("SELECT count(*) FROM lake.db.collt WHERE c = 'd'")
      .collect()(0).getLong(0) == 3)
    // c < 'B' matches 'a' (LCASE: 'a' < 'b') and both 'A's — but file
    // 1's BYTE-order min is 'D' (0x44 < 0x61 = 'a'), so a byte-order
    // stats probe "min < 'B'" would PRUNE file 1 and lose the 'a'
    // row: all files must stay planned so the collation decides,
    // never the byte-ordered stats
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT count(*) FROM lake.db.collt WHERE c < 'B'")
      .collect()(0).getLong(0) == 3) // 'a' (file1) + 'A','A' (file2)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 2,
      "collated predicate must keep every file (no stats claim)")
    // metadata MIN/MAX declines: collation-aware MIN of ('b','D','A')
    // is 'A', which byte-ordered stats would also report here — but
    // ('a','B') style data flips them, so the pushdown must not
    // answer from stats at all
    val g = sql("SELECT min(c) AS mn FROM lake.db.collt")
    assert(!g.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "collated MIN must decline the metadata answer")
    // 'a' and 'A' are EQUAL under UTF8_LCASE — MIN may surface either
    assert(g.collect()(0).getString(0).equalsIgnoreCase("a"))
  }

  test("interval columns: stats claims in the total-months/micros space") {
    // the interval seam (r9 audit): parquet stores ANSI year-month
    // intervals as INT32 total months and day-time as INT64 total
    // micros — a plain total order with no NaN/±0/byte-order hazard,
    // so (unlike collations) the sound move is to CLAIM: cmp compares
    // numerically, encodeLiteral maps java.time values into the same
    // integer space, agg pushdown decodes months/micros back, and
    // dictionary sets qualify. Before the fix every consumer declined
    // and interval-partitioned tables scanned every file.
    sql("""CREATE TABLE lake.db.ivt
          |(id bigint, ym INTERVAL YEAR TO MONTH, dt INTERVAL DAY TO SECOND)
          |USING lake""".stripMargin)
    sql("""INSERT INTO lake.db.ivt SELECT /*+ REPARTITION(1) */ id,
          |make_ym_interval(0, cast(id AS int)), make_dt_interval(0,0,0,id)
          |FROM range(4)""".stripMargin)
    sql("""INSERT INTO lake.db.ivt SELECT /*+ REPARTITION(1) */ id + 4,
          |make_ym_interval(10, cast(id AS int)),
          |make_dt_interval(cast(id+100 AS int),0,0,0) FROM range(2)""".stripMargin)

    // range predicates prune to the matching file, results exact
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(count("SELECT count(*) FROM lake.db.ivt WHERE ym > INTERVAL '5' YEAR") == 2)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "year-month range predicate must prune the low-range file")
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(count("SELECT count(*) FROM lake.db.ivt WHERE dt < INTERVAL '1' DAY") == 4)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "day-time range predicate must prune the high-range file")

    // metadata MIN/MAX answers without scanning data files
    val g = sql("SELECT min(ym) AS mn, max(dt) AS mx FROM lake.db.ivt")
    assert(g.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"interval min/max must answer from metadata:\n${g.queryExecution.executedPlan}")
    val r = g.collect()(0)
    assert(r.get(0) == java.time.Period.ZERO, s"min ym: ${r.get(0)}")
    assert(r.get(1) == java.time.Duration.ofDays(101), s"max dt: ${r.get(1)}")

    // identity partitioning on an interval column: tuple routing,
    // pruning, and dynamic overwrite all agree on the encoding
    sql("""CREATE TABLE lake.db.ivp (id bigint, ym INTERVAL YEAR TO MONTH)
          |USING lake PARTITIONED BY (ym)""".stripMargin)
    sql("""INSERT INTO lake.db.ivp
          |SELECT id, make_ym_interval(cast(id % 3 AS int), 0) FROM range(9)""".stripMargin)
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(count("SELECT count(*) FROM lake.db.ivp WHERE ym = INTERVAL '1' YEAR") == 3)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "identity interval partition must prune to one partition's file")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      sql("""INSERT OVERWRITE lake.db.ivp
            |SELECT id + 100, make_ym_interval(1, 0) FROM range(2)""".stripMargin)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    assert(count("SELECT count(*) FROM lake.db.ivp") == 8)
    assert(count("SELECT count(*) FROM lake.db.ivp WHERE ym = INTERVAL '1' YEAR") == 2)

    // literal encoding pinned directly: the same integer space the
    // footer carries; an overflowing duration declines, never wraps
    import org.apache.spark.sql.types.{YearMonthIntervalType, DayTimeIntervalType}
    assert(FileStats.encodeLiteral(java.time.Period.ofYears(2).plusMonths(3),
      YearMonthIntervalType()).contains("27"))
    assert(FileStats.encodeLiteral(java.time.Duration.ofSeconds(5, 123000),
      DayTimeIntervalType()).contains("5000123"))
    assert(FileStats.encodeLiteral(
      java.time.Duration.ofSeconds(Long.MaxValue / 2),
      DayTimeIntervalType()).isEmpty,
      "micros overflow must decline, not wrap")
  }

  test("dynamic file pruning: join runtime filter narrows partitioned scan") {
    sql("""CREATE TABLE lake.db.dppfact (id bigint, cat string) USING lake
        |PARTITIONED BY (cat)""".stripMargin)
    sql("""INSERT INTO lake.db.dppfact
        |SELECT id, concat('c', cast(id % 8 AS string)) FROM range(800)""".stripMargin)
    sql("CREATE TABLE lake.db.dppdim (cat string, flag int) USING lake")
    sql("INSERT INTO lake.db.dppdim SELECT concat('c', cast(id AS string)), " +
      "cast(id % 8 = 1 AS int) FROM range(8)")

    LakeBatchScan.lastRuntimeFileCount.set(-1)
    val df = sql("""SELECT f.id FROM lake.db.dppfact f
                 |JOIN lake.db.dppdim d ON f.cat = d.cat WHERE d.flag = 1""".stripMargin)
    assert(df.count() == 100)
    // the fact scan received a dynamic-pruning runtime filter …
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic pruning filter on the fact scan:\n$plan")
    // … and it narrowed the planned file set to the matching partition
    val survived = LakeBatchScan.lastRuntimeFileCount.get()
    assert(survived >= 1 && survived < 8,
      s"runtime filter should prune partition files, planned $survived of 8")
  }

  test("runtime filter attributes respect the scan projection") {
    // Spark's PartitionPruning resolves EVERY reported filter
    // attribute against the relation output and throws on a miss, so
    // a scan whose projection pruned the partition column away must
    // not report it (found by the MV fuzz on a partitioned base:
    // AnalysisException 'Unable to resolve k given [id,_file,_pos]').
    sql("""CREATE TABLE lake.db.rfp (id bigint, k string) USING lake
          |PARTITIONED BY (k)
          |TBLPROPERTIES ('write.merge.mode'='merge-on-read',
          |               'write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.rfp VALUES (1,'a'),(2,'b'),(3,'a')")
    sql("CREATE TABLE lake.db.rfpdim (id bigint, flag int) USING lake")
    sql("INSERT INTO lake.db.rfpdim VALUES (1, 1), (2, 0)")
    // normal read: join on a non-partition key with k pruned away
    assert(sql("""SELECT f.id FROM lake.db.rfp f
                |JOIN lake.db.rfpdim d ON f.id = d.id
                |WHERE d.flag = 1""".stripMargin).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // MoR MERGE: the delta scan projects only (id, _file, _pos)
    sql("""MERGE INTO lake.db.rfp t
          |USING (SELECT * FROM (VALUES (2L),(3L)) AS s(id)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(sql("SELECT id FROM lake.db.rfp").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    sql("DROP TABLE lake.db.rfp"); sql("DROP TABLE lake.db.rfpdim")
  }

  test("ORDER BY + LIMIT plans only undominated files (top-N pushdown)") {
    sql("CREATE TABLE lake.db.topn (id bigint, v string) USING lake")
    for (i <- 0 until 4) // four files with disjoint id ranges
      sql(s"INSERT INTO lake.db.topn SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, 'x' FROM range(100)")

    LakeScanBuilder.lastPlannedFileCount.set(-1)
    val asc = sql("SELECT * FROM lake.db.topn ORDER BY id LIMIT 5").collect()
    assert(asc.map(_.getLong(0)).toSeq == (0L until 5L))
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      s"ascending top-5 should plan only the lowest-range file, " +
        s"planned ${LakeScanBuilder.lastPlannedFileCount.get()}")

    LakeScanBuilder.lastPlannedFileCount.set(-1)
    val desc = sql("SELECT * FROM lake.db.topn ORDER BY id DESC LIMIT 5")
      .collect()
    assert(desc.map(_.getLong(0)).toSeq == (399L to 395L by -1L))
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1,
      "descending top-5 should plan only the highest-range file")

    // limit past one file keeps exactly the files that can contribute
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT * FROM lake.db.topn ORDER BY id LIMIT 150")
      .collect().length == 150)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 2)

    // a null in any file withdraws the cut (null ordering unknowable
    // from stats) — results stay correct, everything planned
    sql("INSERT INTO lake.db.topn VALUES (CAST(NULL AS bigint), 'n')")
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    val withNull = sql(
      "SELECT * FROM lake.db.topn ORDER BY id NULLS FIRST LIMIT 2").collect()
    assert(withNull(0).isNullAt(0) && withNull(1).getLong(0) == 0L)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 5,
      "a file with nulls must decline the top-N cut")
    sql("DROP TABLE lake.db.topn")
  }

  test("runtime bloom filtering: join keys prune unpartitioned fact files") {
    // same shape as the planning-time bloom test, but the point lookup
    // arrives as a JOIN's runtime filter instead of a literal predicate
    sql("""CREATE TABLE lake.db.bloomjoin (id bigint, k string) USING lake
          |TBLPROPERTIES (
          |  'write.parquet.bloom-filter-enabled.column.k'='true',
          |  'write.parquet.bloom-filter-expected-ndv.column.k'='1024',
          |  'write.parquet.dict-enabled.column.k'='false')""".stripMargin)
    // file A: even suffixes, file B: odd — same min/max span, only the
    // bloom can tell them apart
    sql("INSERT INTO lake.db.bloomjoin SELECT /*+ REPARTITION(1) */ id, " +
      "format_string('v%05d', id * 2) FROM range(500)")
    sql("INSERT INTO lake.db.bloomjoin SELECT /*+ REPARTITION(1) */ id, " +
      "format_string('v%05d', id * 2 + 1) FROM range(500)")
    sql("CREATE TABLE lake.db.bloomdim (k string, flag int) USING lake")
    sql("INSERT INTO lake.db.bloomdim SELECT " +
      "format_string('v%05d', id * 2 + 1), cast(id < 3 AS int) FROM range(8)")

    LakeBatchScan.lastRuntimeFileCount.set(-1)
    val df = sql("""SELECT f.id FROM lake.db.bloomjoin f
                 |JOIN lake.db.bloomdim d ON f.k = d.k
                 |WHERE d.flag = 1""".stripMargin)
    assert(df.count() == 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a runtime filter on the fact scan's bloom column:\n$plan")
    val survived = LakeBatchScan.lastRuntimeFileCount.get()
    assert(survived == 1,
      s"blooms should skip the even-suffix file at runtime, planned $survived of 2")
    sql("DROP TABLE lake.db.bloomjoin"); sql("DROP TABLE lake.db.bloomdim")
  }

  private def firstFooter(table: String) = {
    val path = sql(s"SELECT file_path FROM $table.files LIMIT 1")
      .collect()(0).getString(0)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      spark.sessionState.newHadoopConf())
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getFooter.getBlocks.get(0).getColumns
    finally rd.close()
  }

  test("write tuning: codec + bloom filter reach both write paths") {
    // unpartitioned: one empty tuple through the same fanout writer
    sql("""CREATE TABLE lake.db.tune_flat (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.parquet.compression-codec'='gzip',
        |  'write.parquet.bloom-filter-enabled.column.v'='true')""".stripMargin)
    sql("INSERT INTO lake.db.tune_flat " +
      "SELECT id, concat('val', cast(id AS string)) FROM range(2000)")
    val flatCols = firstFooter("lake.db.tune_flat")
    assert(flatCols.get(0).getCodec.toString == "GZIP")
    val vCol = (0 until flatCols.size()).map(flatCols.get)
      .find(_.getPath.toDotString == "v").get
    assert(vCol.getBloomFilterOffset >= 0,
      "bloom filter requested for column v but footer has none")

    // partitioned -> fanout writer job conf
    sql("""CREATE TABLE lake.db.tune_part (id bigint, v string, p int)
        |USING lake PARTITIONED BY (p)
        |TBLPROPERTIES ('write.parquet.compression-codec'='gzip')""".stripMargin)
    sql("INSERT INTO lake.db.tune_part " +
      "SELECT id, cast(id AS string), cast(id % 2 AS int) FROM range(1000)")
    assert(firstFooter("lake.db.tune_part").get(0).getCodec.toString == "GZIP")
  }

  test("rewrites keep the table's write tuning: binpack, sort and a " +
      "copy-on-write DELETE") {
    sql("""CREATE TABLE lake.db.tune_rw (id bigint, v string) USING lake
        |PARTITIONED BY (bucket(2, id))
        |TBLPROPERTIES ('write.parquet.compression-codec'='gzip',
        |  'write.parquet.bloom-filter-enabled.column.v'='true')""".stripMargin)
    def insert(from: Int): Unit = sql("INSERT INTO lake.db.tune_rw " +
      s"SELECT id, concat('val', cast(id AS string)) FROM range($from, ${from + 1000})")
    /** codec and bloom offset of column v in every head file */
    def tuning(): Seq[(String, Boolean)] = headFiles("tune_rw").map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.path), spark.sessionState.newHadoopConf())
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val cols = rd.getFooter.getBlocks.get(0).getColumns
        val v = (0 until cols.size()).map(cols.get)
          .find(_.getPath.toDotString == "v").get
        (v.getCodec.toString, v.getBloomFilterOffset >= 0)
      } finally rd.close()
    }
    def assertTuned(after: String): Unit = {
      val t = tuning()
      assert(t.nonEmpty && t.forall(_ == ("GZIP", true)), s"after $after: $t")
    }
    (0 until 3).foreach(i => insert(i * 1000))
    assertTuned("3 INSERTs")
    val written = headFiles("tune_rw").map(_.path).toSet
    sql("CALL lake.system.rewrite_data_files(table => 'db.tune_rw')")
    assert(headFiles("tune_rw").map(_.path).toSet.intersect(written).isEmpty)
    assertTuned("binpack")
    (3 until 5).foreach(i => insert(i * 1000))
    sql("CALL lake.system.rewrite_data_files(table => 'db.tune_rw', " +
      "strategy => 'sort', sort_order => 'id')")
    assert(headFiles("tune_rw").forall(_.sortedBy.nonEmpty))
    assertTuned("sort")
    sql("DELETE FROM lake.db.tune_rw WHERE id = 17")
    assertTuned("a copy-on-write DELETE")
    assert(count("SELECT count(*) FROM lake.db.tune_rw") == 4999)
  }

  test("target file size rolls fanout output inside one partition tuple") {
    sql("""CREATE TABLE lake.db.tune_roll (id bigint, v string, p int)
        |USING lake PARTITIONED BY (p)
        |TBLPROPERTIES ('write.target-file-size-bytes'='16384',
        |  'write.parquet.row-group-size-bytes'='4096')""".stripMargin)
    // one partition tuple, ~2.5 MB of rows: without size roll-over this
    // is a single file; with it the tuple splits at ~16 KB boundaries
    sql("INSERT INTO lake.db.tune_roll " +
      "SELECT id, repeat(cast(id AS string), 20), 1 FROM range(50000)")
    val files = sql("SELECT file_path FROM lake.db.tune_roll.files").collect()
    assert(files.length >= 2,
      s"expected the 16 KB target to split one tuple, got ${files.length} file(s)")
    assert(count("SELECT count(*) FROM lake.db.tune_roll") == 50000)
    assert(count("SELECT count(DISTINCT id) FROM lake.db.tune_roll") == 50000)
  }

  test("write.distribution-mode: none skips the shuffle, range stays tuple-clustered") {
    // default (hash): the clustered exchange routes whole tuples to one
    // task — exactly one file per partition tuple
    sql("CREATE TABLE lake.db.dmode_hash (id bigint, p int) USING lake PARTITIONED BY (p)")
    sql("INSERT INTO lake.db.dmode_hash SELECT id, cast(id % 2 AS int) FROM range(1000)")
    assert(sql("SELECT file_path FROM lake.db.dmode_hash.files").count() == 2)

    // none: no exchange requested — every input task writes its own
    // slice of each tuple (the reference's manual-clustering contract)
    sql("""CREATE TABLE lake.db.dmode_none (id bigint, p int) USING lake
        |PARTITIONED BY (p)
        |TBLPROPERTIES ('write.distribution-mode'='none')""".stripMargin)
    sql("INSERT INTO lake.db.dmode_none SELECT id, cast(id % 2 AS int) FROM range(1000)")
    assert(sql("SELECT file_path FROM lake.db.dmode_none.files").count() > 2)
    assert(count("SELECT count(*) FROM lake.db.dmode_none") == 1000)

    // range: ordered distribution — still tuple-contiguous per task
    sql("""CREATE TABLE lake.db.dmode_range (id bigint, p int) USING lake
        |PARTITIONED BY (p)
        |TBLPROPERTIES ('write.distribution-mode'='range')""".stripMargin)
    sql("INSERT INTO lake.db.dmode_range SELECT id, cast(id % 2 AS int) FROM range(1000)")
    val rangeFiles = sql("SELECT file_path FROM lake.db.dmode_range.files").count()
    assert(rangeFiles >= 2 && rangeFiles <= 4,
      s"range distribution should stay tuple-contiguous, got $rangeFiles files")
    assert(count("SELECT count(*) FROM lake.db.dmode_range") == 1000)
  }

  test("CBO column statistics derive from manifests + compute_table_stats NDV") {
    sql("CREATE TABLE lake.db.cbo (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.cbo " +
      "SELECT id, concat('v', cast(id AS string)) FROM range(100)")
    sql("CALL lake.system.compute_table_stats(table => 'db.cbo')")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("lake.db.cbo").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(100)))
      val idStat = stats.attributeStats.find(_._1.name == "id").map(_._2)
        .getOrElse(fail(s"no column stat for id in ${stats.attributeStats}"))
      assert(idStat.nullCount.contains(BigInt(0)))
      assert(idStat.min.contains(0L) && idStat.max.contains(99L),
        s"expected min 0 / max 99, got ${idStat.min}/${idStat.max}")
      assert(idStat.distinctCount.exists(d => d >= BigInt(90) && d <= BigInt(110)),
        s"approx NDV should be ~100, got ${idStat.distinctCount}")
      // equi-height histogram flows from compute_table_stats through
      // the connector column stats into the catalyst ColumnStat
      val h = idStat.histogram.getOrElse(
        fail(s"no histogram on id: $idStat"))
      assert(h.bins.length == 32, s"expected 32 bins, got ${h.bins.length}")
      assert(math.abs(h.height - 100.0 / 32) < 0.01, h.height.toString)
      assert(h.bins.head.lo == 0.0 && h.bins.last.hi == 99.0,
        s"bounds should span the data: ${h.bins.head.lo}..${h.bins.last.hi}")
      // a range predicate's estimate reflects the histogram: roughly
      // a quarter of the rows fall under id < 25
      val est = sql("SELECT * FROM lake.db.cbo WHERE id < 25")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(r => r >= BigInt(15) && r <= BigInt(35)),
        s"histogram-based estimate for id<25 should be ~25 rows, got $est")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("metadata version files cache by identity; drop+recreate never serves stale meta") {
    sql("CREATE TABLE lake.db.mcache (id bigint) USING lake")
    sql("INSERT INTO lake.db.mcache VALUES (1)")
    val conf = spark.sessionState.newHadoopConf()
    val loc = s"$wh/db/mcache"
    MetadataLog.clearMetaCacheForTesting()
    val v = MetadataLog.currentVersion(loc, conf)
    val before = MetadataLog.parseCount.get()
    val first = MetadataLog.loadVersion(loc, v, conf)
    assert(MetadataLog.parseCount.get() == before + 1)
    val second = MetadataLog.loadVersion(loc, v, conf)
    assert(MetadataLog.parseCount.get() == before + 1,
      "second load of an immutable version must be a cache hit")
    assert(second.version == first.version &&
      second.snapshots.map(_.snapshotId) == first.snapshots.map(_.snapshotId))
    // same location + same version number after drop/recreate must
    // reload (the (mtime, length) key changes with the new file)
    sql("DROP TABLE lake.db.mcache")
    sql("CREATE TABLE lake.db.mcache (id bigint, v string) USING lake")
    val recreated = MetadataLog.load(loc, conf)
    assert(recreated.schema.fieldNames.toSeq == Seq("id", "v"),
      s"stale cached metadata served after recreate: ${recreated.schema}")
  }

  test("metadata log retention prunes old version files after commit") {
    sql("""CREATE TABLE lake.db.tune_meta (id bigint) USING lake
        |TBLPROPERTIES ('write.metadata.delete-after-commit.enabled'='true',
        |  'write.metadata.previous-versions-max'='2')""".stripMargin)
    (1 to 6).foreach(i => sql(s"INSERT INTO lake.db.tune_meta VALUES ($i)"))
    val loc = s"$wh/db/tune_meta"
    val versions = MetadataLog.metadataFiles(loc,
      spark.sessionState.newHadoopConf()).map(_._1)
    // 7 commits total (create + 6 inserts); window = current + 2 previous
    assert(versions == Seq(5, 6, 7),
      s"expected versions 5..7 retained, got $versions")
    assert(count("SELECT count(*) FROM lake.db.tune_meta") == 6)
    // all snapshots remain time-travelable from the current metadata
    assert(sql("SELECT * FROM lake.db.tune_meta.snapshots").count() == 6)
    val first = sql("SELECT min(snapshot_id) FROM lake.db.tune_meta.snapshots")
      .collect()(0).getLong(0)
    assert(sql(s"SELECT * FROM lake.db.tune_meta VERSION AS OF $first").count() == 1)
  }

  test("commit metrics record per-phase planning cost for every staged commit") {
    sql("CREATE TABLE lake.db.cmet (id bigint, p bigint) USING lake " +
      "PARTITIONED BY (p)")
    val c0 = LakeCommitMetrics.commits
    sql("INSERT INTO lake.db.cmet SELECT id, id % 2 FROM range(10)")
    assert(LakeCommitMetrics.commits == c0 + 1,
      "each staged commit must record exactly one timing")
    val t = LakeCommitMetrics.last.get
    assert(t.stagedFiles >= 2, s"two partition tuples staged: $t")
    assert(t.listMs >= 0 && t.tuplesMs >= 0 && t.statsMs >= 0, t.toString)
    assert(t.totalMs >= t.listMs + t.tuplesMs + t.statsMs, t.toString)
    assert(LakeCommitMetrics.totalMs >= t.totalMs)
    // unpartitioned write: the tuple job is skipped, phases still sum
    sql("CREATE TABLE lake.db.cmet2 (id bigint) USING lake")
    sql("INSERT INTO lake.db.cmet2 SELECT id FROM range(5)")
    assert(LakeCommitMetrics.commits == c0 + 2)
    assert(LakeCommitMetrics.last.get.stagedFiles >= 1)
    sql("DROP TABLE lake.db.cmet")
    sql("DROP TABLE lake.db.cmet2")
  }

  test("read-only marker freezes procedures, commands, and commits " +
      "at the metadata layer") {
    sql("CREATE TABLE lake.db.ro (id bigint) USING lake")
    sql("INSERT INTO lake.db.ro VALUES (1), (2)")
    val snap = sql("SELECT snapshot_id FROM lake.db.ro.history LIMIT 1")
      .collect()(0).getLong(0)
    sql("ALTER TABLE lake.db.ro SET TBLPROPERTIES ('hive-ext.readOnly'='true')")
    def blocked(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val m = String.valueOf(e.getMessage).toLowerCase
      assert(m.contains("read-only"),
        s"expected the read-only veto, got: ${e.getMessage}")
    }
    // this suite does NOT install the readonly extension: every veto
    // below comes from the lake METADATA layer (loadMetaWritable /
    // alterTable / commitRetrying) — procedures and custom commands
    // never take a plan shape the extension's check rule could see
    blocked(sql("CALL lake.system.rollback_to_snapshot(" +
      s"table => 'db.ro', snapshot_id => $snap)").collect())
    blocked(sql("CALL lake.system.rewrite_data_files(table => 'db.ro')")
      .collect())
    blocked(sql("CALL lake.system.expire_snapshots(table => 'db.ro')")
      .collect())
    blocked(sql("CALL lake.system.create_branch(" +
      "table => 'db.ro', branch => 'b1')").collect())
    blocked(sql("CALL lake.system.compute_table_stats(table => 'db.ro')")
      .collect())
    blocked(sql("INSERT INTO lake.db.ro VALUES (3)"))
    blocked(sql("DELETE FROM lake.db.ro WHERE id = 1"))
    blocked(LakeWriteOrderCommand(Seq("lake", "db", "ro"), Seq("id"))
      .run(spark))
    blocked(sql("ALTER TABLE lake.db.ro ADD COLUMN extra bigint"))
    blocked(sql("DROP TABLE lake.db.ro"))
    blocked(sql("DROP TABLE lake.db.ro PURGE"))
    // reads and read-only procedures stay open
    assert(sql("SELECT count(*) FROM lake.db.ro").collect()(0).getLong(0) == 2)
    assert(sql("CALL lake.system.ancestors_of(table => 'db.ro')")
      .collect().nonEmpty)
    // the flag itself stays manageable at this layer (the plan-time
    // rule, when installed, additionally hard-locks the unset for
    // reference parity): unlock, mutate, prove the thaw
    sql("ALTER TABLE lake.db.ro UNSET TBLPROPERTIES ('hive-ext.readOnly')")
    sql("INSERT INTO lake.db.ro VALUES (3)")
    assert(sql("SELECT count(*) FROM lake.db.ro").collect()(0).getLong(0) == 3)
    sql("DROP TABLE lake.db.ro")
  }

  test("CONTRACT: snapshot ids are 1-based sequential in parent order " +
      "across every commit kind") {
    // Two read sites key on this scheme: VectorOps.centroidSourceSnap's
    // pre-tag fallback (build == id 1, expiry detectable as min != 1)
    // and historically the rollback helper (now position-based). If the
    // id scheme ever changes (random/uuid ids), this spec is the loud
    // failure that names the dependents — see the mint-site comment in
    // LakeWrite.
    sql("CREATE TABLE lake.db.seqids (id bigint) USING lake")
    sql("INSERT INTO lake.db.seqids VALUES (1), (2), (3)")        // 1
    sql("INSERT INTO lake.db.seqids VALUES (4)")                  // 2
    sql("DELETE FROM lake.db.seqids WHERE id = 2")                // 3
    sql("UPDATE lake.db.seqids SET id = 40 WHERE id = 4")         // 4
    sql("CALL lake.system.rewrite_data_files(table => 'db.seqids', " +
      "options => map('rewrite-all','true'))")                    // 5
    sql("INSERT OVERWRITE lake.db.seqids VALUES (7)")             // 6
    val m = LakeMeta.of(spark, Seq("lake", "db", "seqids"))
    val ids = m.snapshots.map(_.snapshotId).sorted
    assert(ids == (1L to ids.length.toLong).toSeq,
      s"ids must be 1-based sequential, got $ids")
    // parent order agrees with id order: each snapshot's parent is
    // exactly the previous id
    m.snapshots.sortBy(_.snapshotId).foreach { s0 =>
      assert(s0.parentId == (if (s0.snapshotId == 1L) None
                             else Some(s0.snapshotId - 1)),
        s"snapshot ${s0.snapshotId} parent ${s0.parentId}")
    }
    sql("DROP TABLE lake.db.seqids")
  }

  // ---- partition pruning: work counters on a bucketed CoW table ------

  private def headFiles(t: String): Seq[DataFileMeta] =
    LakeMeta.of(spark, Seq("lake", "db", t)).currentSnapshot().get.files

  /** Spark jobs `body` starts, counted by a listener (the bus is FIFO:
    * once a later marker job is seen, every job of `body` has been). */
  private def jobsDuring(body: => Unit): Int = workDuring(body)._1

  /** Spark jobs `body` starts and the shuffle bytes their stages write. */
  private def workDuring(body: => Unit): (Int, Long) = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        if (g == "counted") e.stageIds.foreach(stages.add(_))
        groups.add(g)
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          shuffled.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("counted", "counted")
      body
      spark.sparkContext.setJobGroup("marker", "marker")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains("marker"), "marker job never reached the listener")
      (groups.toArray.count(_ == "counted"), shuffled.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bucket(16, id) CoW: a point read plans one file and point DML " +
      "rewrites only its keys' buckets, keeping one tuple per file") {
    // a second, day field as well: the MERGE's runtime group filter
    // must still reach the bucket column
    sql("CREATE TABLE lake.db.bk (id bigint, v string, ts timestamp) " +
      "USING lake PARTITIONED BY (days(ts), bucket(16, id))")
    sql("INSERT INTO lake.db.bk SELECT id, concat('v', id), " +
      "TIMESTAMP'2024-01-01 10:00:00' FROM range(1500)")
    val initial = headFiles("bk")
    assert(initial.size == 16 && initial.forall(_.partitionValues.nonEmpty))

    // min/max of a hashed key spans every file: only the partition
    // value can skip the other 15
    val read = sql("SELECT v FROM lake.db.bk WHERE id = 700")
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(read.collect().map(_.getString(0)).toSeq == Seq("v700"))
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1)
    val m = read.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.head.asInstanceOf[LakeBatchScan].reportDriverMetrics()
      .map(x => x.name -> x.value).toMap
    assert(m.get("skippedDataFiles").contains(15L) &&
      m.get("partitionSkippedDataFiles").contains(15L), m.toString)

    val jobs = jobsDuring {
      sql("DELETE FROM lake.db.bk WHERE id IN (3, 500, 1234)")
    }
    val afterDelete = headFiles("bk")
    val deleted = initial.map(_.path).toSet -- afterDelete.map(_.path)
    assert(deleted.nonEmpty && deleted.size <= 3, deleted.toString)
    assert(afterDelete.forall(_.partitionValues.nonEmpty))
    // the rewrite is one write job; no job re-derives the tuples
    assert(jobs == 1, s"DELETE ran $jobs Spark jobs")
    assert(count("SELECT count(*) FROM lake.db.bk") == 1497)

    sql("""MERGE INTO lake.db.bk t USING (SELECT * FROM VALUES
        |(10L, 'm10', TIMESTAMP'2024-01-01 11:00:00'),
        |(600L, 'm600', TIMESTAMP'2024-01-01 11:00:00'),
        |(1600L, 'm1600', TIMESTAMP'2024-01-01 11:00:00') AS s(id, v, ts)) s
        |ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = headFiles("bk")
    val merged = afterDelete.map(_.path).toSet -- afterMerge.map(_.path)
    assert(merged.nonEmpty && merged.size <= 3, merged.toString)
    assert(afterMerge.forall(_.partitionValues.nonEmpty))
    assert(count("SELECT count(*) FROM lake.db.bk") == 1498)
    assert(sql("SELECT id, v FROM lake.db.bk WHERE id IN (10, 600, 1600, 3)")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(10L -> "m10", 600L -> "m600", 1600L -> "m1600"))
  }

  test("rewrite_data_files gives untupled files one tuple each") {
    val src = s"$wh/untupled_src"
    spark.range(0, 400).selectExpr("id", "concat('r', id) AS v")
      .repartition(2).write.parquet(src)
    sql("CREATE TABLE lake.db.untupled (id bigint, v string) USING lake " +
      "PARTITIONED BY (bucket(4, id))")
    sql(s"CALL lake.system.add_files(table => 'db.untupled', " +
      s"source_table => '`parquet`.`$src`')")
    val imported = headFiles("untupled")
    assert(imported.size == 2 && imported.forall(_.partitionValues.isEmpty))
    sql("CALL lake.system.rewrite_data_files(table => 'db.untupled')")
    val compacted = headFiles("untupled")
    assert(compacted.size == 4 && compacted.forall(_.partitionValues.nonEmpty),
      compacted.map(_.partitionValues).toString)
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT v FROM lake.db.untupled WHERE id = 123").collect()
      .map(_.getString(0)).toSeq == Seq("r123"))
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1)
    assert(count("SELECT count(*) FROM lake.db.untupled") == 400)
  }

  test("a binpack rewrite and a mask fold each run one job and shuffle " +
      "nothing; a group past the target splits by whole files and runs") {
    val sizes = LakeWriteUtil.pack(Seq(5L, 4L, 3L, 3L, 2L, 1L).zipWithIndex
      .map { case (b, i) =>
        DataFileMeta(s"/f$i", 1L, b, 0, Map.empty, Map.empty, Map.empty, Map.empty) }, 2)
      .map(_.map(_.sizeBytes).sum)
    assert(sizes.sorted == Seq(9L, 9L), sizes.toString)
    sql("CREATE TABLE lake.db.bp (id bigint, v string) USING lake " +
      "PARTITIONED BY (bucket(2, id))")
    def insert(k: Int): Unit = sql(s"INSERT INTO lake.db.bp SELECT id, " +
      s"sha2(CAST(id AS string), 256) FROM range(${k * 100}, ${k * 100 + 100})")
    def compact(opts: String): (Int, Long) = workDuring {
      sql(s"CALL lake.system.rewrite_data_files(table => 'db.bp'$opts)")
    }
    def byBucket(): Map[Map[String, String], Seq[DataFileMeta]] =
      headFiles("bp").groupBy(_.partitionValues)
    (0 until 4).foreach(insert)
    assert(headFiles("bp").size == 8)
    val rows = rowsOf("SELECT * FROM lake.db.bp")
    assert(compact("") == (1, 0L))
    assert(byBucket().values.map(_.size).toSeq == Seq(1, 1),
      byBucket().toString)
    assert(rowsOf("SELECT * FROM lake.db.bp") == rows)
    def splitBy(target: Long): Map[Map[String, String], Seq[DataFileMeta]] = {
      assert(compact(s", options => map('rewrite-all', 'true', " +
        s"'target-file-size-bytes', '$target')") == (1, 0L))
      val split = byBucket()
      assert(split.size == 2 && split.keys.forall(_.nonEmpty) &&
        split.values.forall(_.size >= 2), split.toString)
      val idsOf = split.map { case (t, fs) => t -> fs.flatMap(f =>
        spark.read.parquet(f.path).select("id").collect().map(_.getLong(0))) }
      assert(idsOf.values.forall(ids => ids.distinct.size == ids.size))
      assert(idsOf.values.map(_.toSet).reduce(_ intersect _).isEmpty)
      split
    }
    // one file three times the target: its rows split into runs
    splitBy(byBucket().values.map(_.head.sizeBytes).min / 3)
    assert(rowsOf("SELECT * FROM lake.db.bp") == rows)

    // past the target, a group's whole files pack into its slots
    (4 until 8).foreach(insert)
    val all = rowsOf("SELECT * FROM lake.db.bp")
    assert(all.size == 800)
    val split = splitBy(byBucket().values.map(_.map(_.sizeBytes).sum).min / 2)
    assert(rowsOf("SELECT * FROM lake.db.bp") == all)

    sql("ALTER TABLE lake.db.bp SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    sql("DELETE FROM lake.db.bp WHERE id IN (5, 150, 777)")
    assert(headFiles("bp").size == split.values.map(_.size).sum)
    val fold = workDuring {
      sql("CALL lake.system.rewrite_position_delete_files(table => 'db.bp')")
    }
    assert(fold == (1, 0L), s"the mask fold ran (jobs, shuffle bytes) $fold")
    val folded = LakeMeta.of(spark, Seq("lake", "db", "bp")).currentSnapshot().get
    assert(folded.deleteFiles.isEmpty)
    assert(rowsOf("SELECT * FROM lake.db.bp") ==
      all.filterNot(r => Set("[5,", "[150,", "[777,").exists(r.startsWith)))
  }

  test("expire_snapshots differences driver-held lists with no job, " +
      "spilled ones by a scan, and counts only the files it deleted") {
    def history(t: String, props: String): (SnapshotMeta, SnapshotMeta) = {
      sql(s"CREATE TABLE lake.db.$t (id bigint) USING lake TBLPROPERTIES " +
        s"('write.delete.mode'='merge-on-read'$props)")
      sql(s"INSERT INTO lake.db.$t SELECT id FROM range(0, 8, 1, 2)")
      sql(s"DELETE FROM lake.db.$t WHERE id = 1")
      val masked = LakeMeta.of(spark, Seq("lake", "db", t)).currentSnapshot().get
      sql(s"CALL lake.system.rewrite_position_delete_files(table => 'db.$t')")
      sql(s"INSERT INTO lake.db.$t VALUES (100)")
      (masked, LakeMeta.of(spark, Seq("lake", "db", t)).currentSnapshot().get)
    }
    def exists(p: String): Boolean = new java.io.File(PosDeletes.norm(p)).exists()
    def expire(t: String): org.apache.spark.sql.Row = sql(
      s"""CALL lake.system.expire_snapshots(table => 'db.$t',
         |older_than => TIMESTAMP '2099-01-01 00:00:00',
         |retain_last => 2)""".stripMargin).collect()(0)
    for ((t, props) <- Seq("exjson" -> "",
        "exspill" -> ", 'write.metadata.manifest.spill-threshold'='1'")) {
      val (masked, head) = history(t, props)
      val live = head.files.map(_.path).toSet
      val dead = masked.files.map(_.path).filterNot(live)
      assert(dead.size == 1 && masked.deleteFiles.nonEmpty, masked.toString)
      // a dead delete file already gone is not counted as deleted
      masked.deleteFiles.foreach(d =>
        assert(new java.io.File(PosDeletes.norm(d.path)).delete()))
      var res: org.apache.spark.sql.Row = null
      val jobs = jobsDuring { res = expire(t) }
      // lists the driver holds need no job; a spilled history keeps
      // its distributed anti-join
      if (props.isEmpty) assert(jobs == 0, s"$t: the expire ran $jobs jobs")
      else assert(jobs > 0, s"$t: the spilled history was differenced on the driver")
      assert(res.getLong(0) == 1L && res.getLong(2) == 2L, s"$t: $res")
      assert(dead.forall(!exists(_)) && live.forall(exists), t)
      val parent = head.parentId.get
      assert(count(s"SELECT count(*) FROM lake.db.$t VERSION AS OF $parent") == 7)
      assert(count(s"SELECT count(*) FROM lake.db.$t") == 8)
    }
  }

  test("a masked read of an epoch that cannot batch reads row-based") {
    spark.range(4).selectExpr("id", "named_struct('a', id) AS s").coalesce(1)
      .writeTo("lake.db.nested").using("lake")
      .tableProperty("write.delete.mode", "merge-on-read").create()
    def firstRead(): Any = {
      val meta = LakeMeta.of(spark, Seq("lake", "db", "nested"))
      val f = meta.currentSnapshot().get.files.head
      val (read, _, _) = new LakeScans.EpochReaders(spark)
        .build(meta, meta.schema, Seq(0), pick = (s, _) => s)(0)
      read(org.apache.spark.sql.execution.datasources.PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(f.path), 0,
        f.sizeBytes)).next()
    }
    assert(firstRead().isInstanceOf[
      org.apache.spark.sql.vectorized.ColumnarBatch])
    val key = "spark.sql.parquet.enableNestedColumnVectorizedReader"
    spark.conf.set(key, "false")
    try {
      // a struct column no longer batches: the epoch reads row-based
      assert(firstRead().isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.UnsafeRow])
      sql("DELETE FROM lake.db.nested WHERE id = 2")
      assert(sql("SELECT s.a FROM lake.db.nested").collect().map(_.getLong(0))
        .sorted.toSeq == Seq(0L, 1L, 3L))
    } finally spark.conf.unset(key)
  }

  test("sort compaction over bucket groups runs a fixed job count, sorts " +
      "every file and keeps each under-target bucket to one file") {
    // bucket 7's files outgrow the target (incompressible payload under
    // one id); every other bucket stays far under it
    def build(t: String, buckets: Int): Unit = {
      sql(s"CREATE TABLE lake.db.$t (id bigint, x bigint, v string) " +
        s"USING lake PARTITIONED BY (bucket($buckets, id))")
      for (k <- 0 until 2)
        sql(s"INSERT INTO lake.db.$t SELECT id, (id * 7919) % 1000, " +
          s"concat('s', id) FROM range(${k * 200}, ${k * 200 + 200})")
      sql(s"INSERT INTO lake.db.$t SELECT 7, (id * 7919) % 100000, " +
        "sha2(CAST(id AS string), 256) FROM range(6000)")
    }
    def compact(t: String): Int = jobsDuring {
      sql(s"""CALL lake.system.rewrite_data_files(table => 'db.$t',
           |strategy => 'sort', sort_order => 'x',
           |options => map('rewrite-all', 'true', 'min-input-files', '1',
           |  'target-file-size-bytes', '65536'))""".stripMargin)
    }
    build("sc2", 2)
    build("sc8", 8)
    val (jobs2, jobs8) = (compact("sc2"), compact("sc8"))
    assert(jobs8 == jobs2 && jobs8 < 8,
      s"8 groups ran $jobs8 Spark jobs, 2 groups $jobs2")
    assert(count("SELECT count(*) FROM lake.db.sc8") == 6400)

    val files = headFiles("sc8")
    assert(files.forall(f => f.partitionValues.nonEmpty && f.sortedBy == Seq("x")),
      files.map(f => (f.partitionValues, f.sortedBy)).toString)
    def column(f: DataFileMeta, c: String): Seq[Long] =
      spark.read.parquet(f.path).select(c).collect().map(_.getLong(0)).toSeq
    files.foreach { f =>
      val xs = column(f, "x")
      assert(xs == xs.sorted, s"${f.path} is not sorted by x")
    }
    // one tuple per file: no id appears under two tuples
    val idsByTuple = files.groupBy(_.partitionValues).map { case (t, fs) =>
      t -> fs.flatMap(column(_, "id")).toSet }
    for ((t1, a) <- idsByTuple; (t2, b) <- idsByTuple if t1 != t2)
      assert((a & b).isEmpty, s"$t1 and $t2 share ids ${a & b}")
    val (heavy, light) = files.groupBy(_.partitionValues).values
      .partition(_.exists(f => column(f, "id").contains(7L)))
    assert(light.nonEmpty && light.forall(_.size == 1),
      light.map(_.size).toString)
    // the oversized bucket splits into files over disjoint x ranges
    val ranges = heavy.flatten.toSeq.map(f => column(f, "x"))
      .map(xs => (xs.head, xs.last)).sorted
    assert(ranges.size > 1, ranges.toString)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping x ranges: $ranges") }
  }

  /** An upsert MoR table whose files span two schema epochs and two
    * equality-delete subsets, each carrying a position mask:
    *  - file A (epoch 0): ids 0-99, deleted by both upserts below;
    *  - file B (epoch 0): ids 5 and 100-149, deleted by the second;
    *  - file C (epoch 1): ids 7, 120 and 121, deleted by none;
    *  - masks on 50 (A), 130 (B) and 121 (C). */
  private def maskedEvolvedTable(t: String): Unit = {
    sql(s"""CREATE TABLE lake.db.$t (id bigint NOT NULL, v string)
           |USING lake TBLPROPERTIES ('identifier-fields'='id',
           |'write.upsert.enabled'='true',
           |'write.delete.mode'='merge-on-read')""".stripMargin)
    def append(q: String): Unit =
      sql(q).coalesce(1).writeTo(s"lake.db.$t").append()
    append("SELECT id, concat('a', id) AS v FROM range(100)")
    append("SELECT id, concat('b', id) AS v FROM range(100, 150) " +
      "UNION ALL SELECT 5, 'b5'")
    sql(s"ALTER TABLE lake.db.$t ADD COLUMN w string")
    append("SELECT id, concat('c', id) AS v, 'w' AS w FROM " +
      "VALUES (7L), (120L), (121L) AS s(id)")
    sql(s"DELETE FROM lake.db.$t WHERE id IN (50, 130, 121)")
    val head = LakeMeta.of(spark, Seq("lake", "db", t)).currentSnapshot().get
    assert(head.files.map(_.schemaEpoch).distinct.size == 2 &&
      head.eqDeleteFiles.size == 2 && head.deleteFiles.nonEmpty,
      s"$t: ${head.files.size} files, ${head.eqDeleteFiles.size} eq deletes")
  }

  private def rowsOf(q: String): Seq[String] =
    sql(q).collect().map(_.toString).toSeq.sorted

  test("a rewrite over two schema epochs and two equality-delete subsets " +
      "runs one write job") {
    maskedEvolvedTable("jc1")
    val before = rowsOf("SELECT * FROM lake.db.jc1")
    // 154 rows written; A's 5 and 7 and B's 120 and 121 replaced; the
    // masks take A's 50, B's 130 and C's 121
    assert(before.size == 147, before.size.toString)
    // the fold rewrites all three files in its one write job
    val foldJobs = jobsDuring {
      sql("CALL lake.system.rewrite_position_delete_files(table => 'db.jc1')")
    }
    assert(foldJobs == 1, s"the mask fold ran $foldJobs Spark jobs")
    assert(rowsOf("SELECT * FROM lake.db.jc1") == before)
    val folded = LakeMeta.of(spark, Seq("lake", "db", "jc1")).currentSnapshot().get
    assert(folded.deleteFiles.isEmpty && folded.eqDeleteFiles.isEmpty)

    maskedEvolvedTable("jc2")
    sql("ALTER TABLE lake.db.jc2 SET TBLPROPERTIES " +
      "('write.delete.mode'='copy-on-write')")
    val parent = LakeMeta.of(spark, Seq("lake", "db", "jc2")).currentSnapshot()
      .get.snapshotId
    // every file matches partially: the copy-on-write rewrite is
    // shuffle-free, one job for all three
    val deleteJobs = jobsDuring {
      sql("DELETE FROM lake.db.jc2 WHERE id IN (60, 140, 120)")
    }
    assert(deleteJobs == 1, s"copy-on-write DELETE ran $deleteJobs Spark jobs")
    assert(rowsOf("SELECT * FROM lake.db.jc2") == rowsOf(
      s"SELECT * FROM lake.db.jc2 VERSION AS OF $parent " +
        "WHERE id NOT IN (60, 140, 120)"))
  }

  test("data columns named _file and _pos never mis-group a rewrite") {
    sql("""CREATE TABLE lake.db.fpcol (id bigint, _file string, _pos bigint)
          |USING lake PARTITIONED BY (bucket(2, id))
          |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    for (k <- 0 until 3)
      sql(s"SELECT id, concat('f', $k) AS _file, id * 10 AS _pos " +
        s"FROM range(${k * 20}, ${k * 20 + 20})").coalesce(1)
        .writeTo("lake.db.fpcol").append()
    val model = scala.collection.mutable.Map((0L until 60L).map(i =>
      i -> s"[$i,f${i / 20},${i * 10}]"): _*)
    def check(step: String): Unit = {
      assert(rowsOf("SELECT * FROM lake.db.fpcol") == model.values.toSeq.sorted,
        s"after $step")
      // a point read plans only its bucket's files, so a row filed under
      // the wrong tuple would vanish here
      for (i <- Seq(0L, 1L, 25L, 42L, 59L) if model.contains(i))
        assert(rowsOf(s"SELECT * FROM lake.db.fpcol WHERE id = $i") ==
          Seq(model(i)), s"id $i after $step")
    }
    sql("CALL lake.system.rewrite_data_files(table => 'db.fpcol', " +
      "options => map('rewrite-all', 'true', 'min-input-files', '1'))")
    check("compaction")
    sql("DELETE FROM lake.db.fpcol WHERE id IN (3, 30, 41)")
    Seq(3L, 30L, 41L).foreach(model.remove)
    check("merge-on-read DELETE")
    sql("CALL lake.system.rewrite_position_delete_files(table => 'db.fpcol')")
    check("mask fold")
    sql("ALTER TABLE lake.db.fpcol SET TBLPROPERTIES " +
      "('write.delete.mode'='copy-on-write')")
    sql("DELETE FROM lake.db.fpcol WHERE id IN (1, 42)")
    Seq(1L, 42L).foreach(model.remove)
    check("copy-on-write DELETE")

    // the rewrite's own row-id columns are reserved: a table using one
    // fails loudly, naming it
    sql("CREATE TABLE lake.db.fpres (id bigint, __graft_file string) USING lake")
    sql("INSERT INTO lake.db.fpres VALUES (1, 'a')")
    sql("INSERT INTO lake.db.fpres VALUES (2, 'b')")
    val e = intercept[Exception] {
      sql("CALL lake.system.rewrite_data_files(table => 'db.fpres', " +
        "options => map('rewrite-all', 'true', 'min-input-files', '1'))")
    }
    assert(e.getMessage.contains("__graft_file"), e.getMessage)
  }
}
