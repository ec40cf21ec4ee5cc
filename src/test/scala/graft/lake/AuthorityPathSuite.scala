package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Local disk under a URI that carries an authority
  * (`graftfs://nn:8020/...`), the shape of `hdfs://namenode:port` and
  * `s3a://bucket` paths. Lets a single-JVM suite exercise every place a
  * data-file path is turned into a key without running HDFS. */
class AuthorityLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = AuthorityLocalFs.Uri
  override def getScheme: String = AuthorityLocalFs.Uri.getScheme
  // the local statuses load permissions through java.io.File(uri),
  // which only accepts file: URIs — hand out plain statuses instead
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
    s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
}

object AuthorityLocalFs {
  val Uri: java.net.URI = java.net.URI.create("graftfs://nn:8020/")
}

/** The lake's core merge-on-read and maintenance paths on a warehouse
  * whose data-file paths carry a scheme AND an authority. Each case
  * fails if the position-delete key (`PosDeletes.norm`/`normCol`) keeps
  * the authority on one side and strips it on the other: masks then
  * match no file and deleted rows come back. */
class AuthorityPathSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _
  private var ckpt: String = _

  override def beforeAll(): Unit = {
    val local = java.nio.file.Files.createTempDirectory("authority_wh")
    wh = s"graftfs://nn:8020${local.toAbsolutePath}"
    ckpt = java.nio.file.Files.createTempDirectory("authority_ckpt").toString
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("authority-path-suite")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.graftfs.impl", classOf[AuthorityLocalFs].getName)
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .withExtensions(new LakeExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String) = spark.sql(s)
  private def ids(t: String): Seq[Long] =
    sql(s"SELECT id FROM lake.db.$t ORDER BY id").collect().map(_.getLong(0)).toSeq
  private def dataPaths(t: String): Set[String] =
    sql(s"SELECT file_path FROM lake.db.$t.files").collect().map(_.getString(0)).toSet
  private def headFiles(t: String): Seq[DataFileMeta] =
    LakeMeta.of(spark, Seq("lake", "db", t)).currentSnapshot().get.files
  private def deleteFileCount(t: String): Long =
    sql(s"SELECT count(*) FROM lake.db.$t.delete_files").collect()(0).getLong(0)

  /** Every mask names a live data file under its one key. */
  private def assertMasksKeyDataFiles(t: String): Unit = {
    val keys = dataPaths(t).map(PosDeletes.norm)
    val masked = sql(s"SELECT DISTINCT file_path FROM lake.db.$t.position_deletes")
      .collect().map(_.getString(0)).toSet
    assert(masked.nonEmpty && masked.subsetOf(keys),
      s"masks ${masked.mkString(", ")} must name data files ${keys.mkString(", ")}")
  }

  /** Two inserts into a table partitioned by `p = id % 2`: two
    * partition groups of two files each. */
  private def mkPartitioned(t: String, props: String = ""): Unit = {
    val tbl = if (props.isEmpty) "" else s"TBLPROPERTIES ($props)"
    sql(s"""CREATE TABLE lake.db.$t (id bigint, p int) USING lake
           |PARTITIONED BY (p) $tbl""".stripMargin)
    sql(s"INSERT INTO lake.db.$t SELECT id, CAST(id % 2 AS int) FROM range(0, 10, 1, 1)")
    sql(s"INSERT INTO lake.db.$t SELECT id, CAST(id % 2 AS int) FROM range(10, 20, 1, 1)")
  }

  test("merge-on-read DELETE and UPDATE read back without the masked rows") {
    sql("""CREATE TABLE lake.db.mor (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        |  'write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.mor SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO lake.db.mor SELECT id, concat('v', id) FROM range(10, 20, 1, 1)")
    val before = dataPaths("mor")
    assert(before.forall(_.startsWith("graftfs://nn:8020/")), before.mkString(", "))
    sql("DELETE FROM lake.db.mor WHERE id IN (3, 15)")
    assert(dataPaths("mor") == before, "MoR delete leaves the data files in place")
    assert(ids("mor") == (0L until 20L).filterNot(Set(3L, 15L)), ids("mor").toString)
    assertMasksKeyDataFiles("mor")

    sql("UPDATE lake.db.mor SET v = 'upd' WHERE id IN (4, 16)")
    val rows = sql("SELECT id, v FROM lake.db.mor ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 18, rows.toString)
    assert(rows.filter(_._2 == "upd").map(_._1) == Seq(4L, 16L), rows.toString)
    assert(!rows.exists(r => r._1 == 4L && r._2 == "v4"), "old row version is masked")
    assertMasksKeyDataFiles("mor")
  }

  test("rewrite_position_delete_files folds masks: fused and per-group") {
    // one fused rewrite serves both kinds of group: a tupled group
    // writes under its recorded tuple, while a group of files brought
    // in by add_files records no tuple, so the fold splits it per row
    // tuple and derives each written file's tuple from the rows
    mkPartitioned("foldtupled", "'write.delete.mode'='merge-on-read'")
    val src = s"$wh/fold_src"
    spark.range(0, 20).selectExpr("id", "CAST(id % 2 AS int) AS p")
      .repartition(2).write.parquet(src)
    sql("""CREATE TABLE lake.db.foldadded (id bigint, p int) USING lake
        |PARTITIONED BY (p)
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("CALL lake.system.add_files(table => 'db.foldadded', " +
      s"source_table => '`parquet`.`$src`')")
    assert(headFiles("foldadded").forall(_.partitionValues.isEmpty))
    for (t <- Seq("foldtupled", "foldadded")) {
      sql(s"DELETE FROM lake.db.$t WHERE id IN (2, 7, 13)")
      val expected = (0L until 20L).filterNot(Set(2L, 7L, 13L))
      assert(ids(t) == expected, s"$t before fold: ${ids(t)}")
      assertMasksKeyDataFiles(t)
      val res = sql(
        s"CALL lake.system.rewrite_position_delete_files(table => 'db.$t')")
        .collect()(0)
      assert(res.getInt(0) >= 1, s"$t: $res")
      assert(deleteFileCount(t) == 0, s"$t: every mask folds into the data")
      assert(ids(t) == expected, s"$t after fold: ${ids(t)}")
      assert(headFiles(t).forall(_.path.startsWith("graftfs://nn:8020/")))
    }
    assert(headFiles("foldadded").forall(_.partitionValues.nonEmpty),
      headFiles("foldadded").map(_.partitionValues).toString)
    assert(sql("SELECT id FROM lake.db.foldadded WHERE p = 1").collect()
      .map(_.getLong(0)).toSeq.sorted == Seq(1L, 3L, 5L, 9L, 11L, 15L, 17L, 19L))
  }

  test("fused rewrite_data_files keeps every group's rows and tuple") {
    mkPartitioned("compact")
    val before = dataPaths("compact")
    assert(before.size == 4, before.mkString(", "))
    val res = sql("CALL lake.system.rewrite_data_files(table => 'db.compact')")
      .collect()(0)
    assert(res.getInt(0) == 4 && res.getInt(1) == 2, res.toString)
    assert(ids("compact") == (0L until 20L))
    val perPart = sql("SELECT p, count(*) FROM lake.db.compact GROUP BY p ORDER BY p")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(perPart == Seq((0, 10L), (1, 10L)), perPart.toString)
    // partition pruning still sees the right tuple on each new file
    assert(sql("SELECT id FROM lake.db.compact WHERE p = 1").collect()
      .forall(_.getLong(0) % 2 == 1))
  }

  test("convert_equality_deletes writes masks keyed like the data files") {
    sql("""CREATE TABLE lake.db.ups (id bigint NOT NULL, v string) USING lake
        |TBLPROPERTIES ('identifier-fields'='id',
        |  'write.upsert.enabled'='true')""".stripMargin)
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .writeTo("lake.db.ups").append()
    Seq((2L, "B"), (4L, "d")).toDF("id", "v").coalesce(1)
      .writeTo("lake.db.ups").append()
    val r = sql("CALL lake.system.convert_equality_deletes(table => 'lake.db.ups')")
      .collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) >= 1, r.toString)
    assertMasksKeyDataFiles("ups")
    val state = sql("SELECT id, v FROM lake.db.ups ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(state == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")), state.toString)
  }

  test("changes and create_changelog_view see a merge-on-read delete") {
    sql("""CREATE TABLE lake.db.cl (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.cl SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("DELETE FROM lake.db.cl WHERE id IN (3, 8)")
    val raw = sql("SELECT id FROM lake.db.cl.changes WHERE _change_type = 'delete' " +
      "ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(raw == Seq(3L, 8L), raw.toString)
    sql("""CALL lake.system.create_changelog_view(table => 'db.cl',
        |changelog_view => 'cl_changes')""".stripMargin)
    val view = sql("SELECT id FROM cl_changes WHERE _change_type = 'delete' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(view == Seq(3L, 8L), view.toString)
    val inserts = sql("SELECT count(*) FROM cl_changes WHERE _change_type = 'insert'")
      .collect()(0).getLong(0)
    assert(inserts == 10L)
  }

  test("remove_orphan_files deletes only a planted orphan") {
    mkPartitioned("orph", "'write.delete.mode'='merge-on-read', " +
      "'write.metadata.manifest.spill-threshold'='2'")
    sql("DELETE FROM lake.db.orph WHERE id = 5")
    val live = dataPaths("orph") ++
      sql("SELECT file_path FROM lake.db.orph.delete_files").collect().map(_.getString(0))
    val orphanDir = s"$wh/db/orph/data/planted-orphan"
    sql("SELECT 1L AS id").coalesce(1).write.parquet(orphanDir)
    val cutoff = java.sql.Timestamp.from(java.time.Instant.now().plusSeconds(60))
    val removed = sql(
      s"""CALL lake.system.remove_orphan_files(table => 'db.orph',
         |older_than => TIMESTAMP '$cutoff')""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(removed.nonEmpty && removed.forall(_.contains("planted-orphan")),
      s"only the planted orphan goes: ${removed.mkString(", ")}")
    val fs = new Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gone = live.filterNot(p => fs.exists(new Path(p)))
    assert(gone.isEmpty, s"live files deleted: ${gone.mkString(", ")}")
    assert(ids("orph") == (0L until 20L).filterNot(_ == 5L))
  }

  test("streaming read: appends arrive, compaction re-emits nothing") {
    sql("CREATE TABLE lake.db.src (id bigint) USING lake")
    sql("INSERT INTO lake.db.src VALUES (1),(2)")
    val q = spark.readStream.table("lake.db.src")
      .writeStream.format("memory").queryName("authority_sink")
      .option("checkpointLocation", s"$ckpt/q1")
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      sql("INSERT INTO lake.db.src VALUES (3)")
      q.processAllAvailable()
      sql("""CALL lake.system.rewrite_data_files(table => 'db.src',
          |options => map('min-input-files','1'))""".stripMargin)
      sql("INSERT INTO lake.db.src VALUES (4)")
      q.processAllAvailable()
      val got = sql("SELECT id FROM authority_sink ORDER BY id").collect()
        .map(_.getLong(0)).toSeq
      assert(got == Seq(1L, 2L, 3L, 4L), got.toString)
    } finally q.stop()
  }
}
