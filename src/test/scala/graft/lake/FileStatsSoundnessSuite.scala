package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stats-order soundness (round-8 self-audit, two live wrong-results
  * finds):
  *
  *  1. STRING ORDER — parquet's binary min/max are UNSIGNED-BYTE
  *     (= code point) order; the probe compared with Java
  *     `String.compareTo` (UTF-16 code-unit order). The two disagree
  *     whenever supplementary characters (emoji, rare CJK — routine
  *     in web corpora) meet U+E000..U+FFFF: reproduced live as
  *     `c > '￿'` returning 0 rows on a table whose file holds
  *     U+1F600, and MAX(c) answered from metadata returning the
  *     WRONG string (Spark's own UTF8String order is byte order).
  *     The same mis-order sat in equality-delete relevance and
  *     StringStartsWith bounds.
  *  2. FLOAT EDGE VALUES on IMPORTED files — parquet-mr never writes
  *     NaN min/max (NaN pages drop stats) and normalizes ±0.0, so
  *     native writes were safe; files adopted via add_files/migrate
  *     come from arbitrary writers. A total-order compare against a
  *     foreign NaN stat pruned matching files; Double.compare on
  *     ±0.0 pruned a foreign file whose only value is the other
  *     zero. FileStats.cmp now makes NO claim on NaN and treats
  *     ±0.0 equal; the metadata MIN/MAX answer declines NaN stats.
  */
class FileStatsSoundnessSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("statsound_wh").toString
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("filestats-soundness-suite")
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

  // U+FFFF (max BMP char) and U+1F600 (emoji, supplementary): byte
  // order puts the emoji ABOVE, UTF-16 order puts it BELOW
  private val bmpMax = "￿"
  private val emoji = new String(Character.toChars(0x1F600))

  test("supplementary chars: range filter keeps the emoji file (live r8 repro)") {
    sql("CREATE TABLE lake.db.ss (id int, c string) USING lake")
    sql(s"INSERT INTO lake.db.ss VALUES (1, '$bmpMax'), (2, '$emoji')")
    // pre-fix: cmp judged '￿' > max('😀') under UTF-16 order and
    // pruned every file — 0 rows for a predicate matching row 2
    assert(sql(s"SELECT * FROM lake.db.ss WHERE c > '$bmpMax'").count() == 1)
    assert(sql(s"SELECT * FROM lake.db.ss WHERE c = '$emoji'").count() == 1)
    assert(sql(s"SELECT * FROM lake.db.ss WHERE c < '$emoji'").count() == 1)
  }

  test("supplementary chars: metadata-answered MIN/MAX match Spark's order") {
    sql("CREATE TABLE lake.db.sm (id int, c string) USING lake")
    sql(s"INSERT INTO lake.db.sm VALUES (1, '$bmpMax'), (2, '$emoji')")
    // no filters → the aggregate is answered from manifest stats;
    // Spark's UTF8String comparison is unsigned-byte order, so the
    // emoji IS the max — pre-fix the metadata answer said '￿'
    val row = sql("SELECT min(c) AS mn, max(c) AS mx FROM lake.db.sm")
      .collect().head
    assert(row.getString(0) == bmpMax, "min must be the BMP char")
    assert(row.getString(1) == emoji, "max must be the supplementary char")
    // and it must agree with the scan path (filter defeats pushdown)
    val scan = sql(
      "SELECT min(c), max(c) FROM lake.db.sm WHERE id IS NOT NULL")
      .collect().head
    assert(scan.getString(0) == bmpMax && scan.getString(1) == emoji)
  }

  test("supplementary chars: StartsWith bounds probe in byte order") {
    sql("CREATE TABLE lake.db.sp (id int, c string) USING lake")
    sql(s"INSERT INTO lake.db.sp VALUES (1, '${emoji}abc'), (2, 'zz')")
    assert(sql(s"SELECT * FROM lake.db.sp WHERE c LIKE '$emoji%'").count() == 1)
  }

  test("cmp: byte order, NaN no-claim, signed zeros equal") {
    assert(FileStats.cmp(emoji, bmpMax, StringType).contains(1))
    assert(FileStats.cmp(bmpMax, emoji, StringType).contains(-1))
    assert(FileStats.cmp("NaN", "1.0", DoubleType).isEmpty)
    assert(FileStats.cmp("1.0", "NaN", FloatType).isEmpty)
    assert(FileStats.cmp("0.0", "-0.0", DoubleType).contains(0))
    assert(FileStats.cmp("-0.0", "0.0", FloatType).contains(0))
  }

  // a FOREIGN file's stats as add_files would adopt them: written by
  // a writer that put NaN / an unnormalized -0.0 into min/max
  private def foreign(mn: String, mx: String): DataFileMeta =
    DataFileMeta("f", 2L, 10L, 0, Map("v" -> mn), Map("v" -> mx),
      Map("v" -> 0L), Map.empty)

  test("imported NaN stats never prune, and decline the metadata MIN/MAX") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    val f = foreign("1.0", "NaN")
    // every comparison involving the NaN bound makes no claim
    assert(FileStats.mayMatch(f, EqualTo("v", 5.0), schema))
    assert(FileStats.mayMatch(f, GreaterThan("v", 100.0), schema))
    assert(FileStats.mayMatch(f, EqualTo("v", Double.NaN), schema))
    // the sane bound still prunes: v < 0.5 is impossible (min 1.0)
    assert(!FileStats.mayMatch(f, LessThan("v", 0.5), schema))
  }

  test("imported unnormalized -0.0 stats keep files for = 0.0") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    // file holds only -0.0, foreign writer recorded min=max=-0.0
    val f = foreign("-0.0", "-0.0")
    assert(FileStats.mayMatch(f, EqualTo("v", 0.0), schema),
      "SQL 0.0 = -0.0; a signed compare pruned this file")
    assert(FileStats.mayMatch(f, EqualTo("v", -0.0), schema))
    assert(!FileStats.mayMatch(f, EqualTo("v", 1.0), schema))
  }

  test("TimestampNTZ literals now prune (were no-claim)") {
    val schema = StructType(Seq(StructField("t", TimestampNTZType)))
    // stats in parquet NTZ space: micros of the wall-clock at UTC
    val jan1 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val feb1 = java.time.LocalDateTime.of(2024, 2, 1, 0, 0)
    def us(t: java.time.LocalDateTime): String =
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L).toString
    val f = DataFileMeta("f", 2L, 10L, 0, Map("t" -> us(jan1)),
      Map("t" -> us(feb1)), Map("t" -> 0L), Map.empty)
    assert(!FileStats.mayMatch(f,
      GreaterThan("t", java.time.LocalDateTime.of(2024, 3, 1, 0, 0)), schema))
    assert(FileStats.mayMatch(f,
      GreaterThan("t", java.time.LocalDateTime.of(2024, 1, 15, 0, 0)), schema))
  }

  // ---- partition projection (PartitionPruning) ----------------------

  private def inZone[T](z: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", z)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  private def metaOf(t: String) = LakeMeta.of(spark, Seq("lake", "db", t))

  /** One single-row INSERT per value (so each file records one value's
    * tuple), then: the projection of the filter literal `v` through
    * every field equals the tuple the INSERT recorded, and a SQL point
    * read returns the row — planning one file when `c` is an identity
    * field. `writeZone` is the session zone of the INSERTs. */
  private def projects(table: String, colType: String, fields: String,
      values: Seq[(String, Any)], writeZone: String = "UTC"): Unit = {
    sql(s"CREATE TABLE lake.db.$table (c $colType) USING lake " +
      s"PARTITIONED BY ($fields)")
    inZone(writeZone) {
      values.foreach { case (lit, _) =>
        sql(s"INSERT INTO lake.db.$table VALUES ($lit)")
      }
    }
    val meta = metaOf(table)
    val files = meta.currentSnapshot().get.files
    assert(files.size == values.size)
    val parts = PartitionPruning.of(meta)
    val identity = meta.partitionSpec.exists(_.transform == "identity")
    files.zip(values).foreach { case (f, (lit, v)) =>
      val projected = parts.project("c", v)
        .map { case (field, p) => field.name -> p }.toMap
      assert(f.partitionValues.nonEmpty && projected == f.partitionValues,
        s"$table: $lit")
      LakeScanBuilder.lastPlannedFileCount.set(-1)
      assert(sql(s"SELECT * FROM lake.db.$table WHERE c = $lit").count() == 1,
        s"$table: $lit")
      if (identity)
        assert(LakeScanBuilder.lastPlannedFileCount.get() == 1, s"$table: $lit")
    }
  }

  test("partition projection equals the tuple a real INSERT records") {
    projects("pj_int", "int", "c, bucket(8, c), truncate(10, c)", Seq(
      "0" -> 0, "7" -> 7, "-13" -> -13,
      "CAST(2147483647 AS INT)" -> Int.MaxValue,
      "CAST(-2147483648 AS INT)" -> Int.MinValue))
    projects("pj_long", "bigint", "c, bucket(16, c), truncate(100, c)", Seq(
      "CAST(0 AS BIGINT)" -> 0L, "CAST(42 AS BIGINT)" -> 42L,
      "CAST(-7 AS BIGINT)" -> -7L,
      "CAST(-123456789012 AS BIGINT)" -> -123456789012L,
      "CAST(9223372036854775807 AS BIGINT)" -> Long.MaxValue))
    // truncate(Long.MinValue) overflows on write, so the extremes of
    // the hashed key go in a table without it
    projects("pj_long_ext", "bigint", "c, bucket(16, c)", Seq(
      "CAST('-9223372036854775808' AS BIGINT)" -> Long.MinValue,
      "CAST(9223372036854775807 AS BIGINT)" -> Long.MaxValue,
      "CAST(-1 AS BIGINT)" -> -1L))
    projects("pj_str", "string", "c, truncate(2, c), bucket(8, c)", Seq(
      "'héllo'" -> "héllo", "'日本語'" -> "日本語",
      s"'${emoji}x'" -> s"${emoji}x", "'a'" -> "a"))
    projects("pj_dec", "decimal(10,2)", "c, bucket(8, c), truncate(10, c)", Seq(
      "1.50BD" -> new java.math.BigDecimal("1.5"),
      "-3.25BD" -> new java.math.BigDecimal("-3.25"),
      "0BD" -> java.math.BigDecimal.ZERO,
      "12345678.99BD" -> new java.math.BigDecimal("12345678.99")))
    projects("pj_date", "date",
      "c, bucket(8, c), years(c), months(c), days(c)", Seq(
        "DATE'2024-01-05'" -> java.sql.Date.valueOf("2024-01-05"),
        "DATE'1999-12-31'" -> java.time.LocalDate.of(1999, 12, 31),
        "DATE'1970-01-01'" -> java.sql.Date.valueOf("1970-01-01"),
        "DATE'1600-06-30'" -> java.time.LocalDate.of(1600, 6, 30)))
    // written in a DST zone: 02:30 on 2024-03-10 does not exist in
    // Los Angeles, and the NTZ value must still land in hour 02
    projects("pj_ntz", "timestamp_ntz", "c, bucket(8, c), days(c), hours(c)",
      Seq(
        "TIMESTAMP_NTZ'2024-03-10 02:30:00'" ->
          java.time.LocalDateTime.of(2024, 3, 10, 2, 30),
        "TIMESTAMP_NTZ'2024-01-05 23:59:59.5'" ->
          java.time.LocalDateTime.of(2024, 1, 5, 23, 59, 59, 500000000),
        "TIMESTAMP_NTZ'1970-01-01 00:00:00'" ->
          java.time.LocalDateTime.of(1970, 1, 1, 0, 0)),
      writeZone = "America/Los_Angeles")
    // TIMESTAMP (an instant) prunes through its zone-free hash only
    projects("pj_ts", "timestamp", "bucket(8, c)", Seq(
      "TIMESTAMP'2024-01-05 10:00:00'" ->
        java.sql.Timestamp.valueOf("2024-01-05 10:00:00"),
      "TIMESTAMP'1999-12-31 23:59:59'" ->
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59")))
    // a literal that is not exactly a value of the column's type makes
    // no claim
    val parts = PartitionPruning.of(metaOf("pj_int"))
    assert(parts.project("c", 3000000000L).isEmpty)
    assert(parts.project("c", "7").isEmpty)
    assert(PartitionPruning.of(metaOf("pj_dec"))
      .project("c", new java.math.BigDecimal("1.505")).isEmpty)
  }

  test("a field name redefined by REPLACE or DROP-then-ADD returns the " +
      "model's rows") {
    def run(t: String, evolve: Seq[String]): Unit = {
      sql(s"CREATE TABLE lake.db.$t (id bigint, v string) USING lake " +
        "PARTITIONED BY (bucket(16, id))")
      val model = scala.collection.mutable.Map[Long, String]()
      (Seq("") ++ evolve).zipWithIndex.foreach { case (ddl, i) =>
        if (ddl.nonEmpty) sql(s"ALTER TABLE lake.db.$t $ddl")
        sql(s"INSERT INTO lake.db.$t SELECT id, concat('$i-', id) " +
          s"FROM range(${i * 100}, ${i * 100 + 100})")
        (i * 100L until i * 100L + 100).foreach(k => model(k) = s"$i-$k")
      }
      for (k <- model.keys.toSeq.sorted if k % 7 == 0) {
        val got = sql(s"SELECT v FROM lake.db.$t WHERE id = $k").collect()
          .map(_.getString(0)).toSeq
        assert(got == Seq(model(k)), s"$t: id = $k")
      }
      val ks = model.keys.toSeq.sorted.filter(_ % 13 == 0)
      assert(sql(s"SELECT id FROM lake.db.$t WHERE id IN " +
        s"(${ks.mkString(", ")})").count() == ks.size)
      // the name's definitions disagree: it makes no claim
      assert(PartitionPruning.of(metaOf(t)).project("id", 5L).isEmpty)
    }
    run("evo_replace", Seq(
      "REPLACE PARTITION FIELD id_bucket WITH bucket(8, id) AS id_bucket"))
    run("evo_dropadd", Seq("DROP PARTITION FIELD id_bucket",
      "ADD PARTITION FIELD bucket(4, id) AS id_bucket"))
  }

  test("metadata from before the spec log makes no partition claim") {
    sql("CREATE TABLE lake.db.nolog (id bigint) USING lake " +
      "PARTITIONED BY (bucket(4, id))")
    sql("INSERT INTO lake.db.nolog SELECT id FROM range(1000)")
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT * FROM lake.db.nolog WHERE id = 7").count() == 1)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 1)
    // the same table as a build without the log wrote it
    val conf = spark.sessionState.newHadoopConf()
    MetadataLog.commit(metaOf("nolog").copy(priorSpecs = None), conf)
    val legacy = metaOf("nolog")
    assert(legacy.specLog.isEmpty && PartitionPruning.of(legacy).isEmpty)
    LakeScanBuilder.lastPlannedFileCount.set(-1)
    assert(sql("SELECT * FROM lake.db.nolog WHERE id = 7").count() == 1)
    assert(LakeScanBuilder.lastPlannedFileCount.get() == 4)
    // evolving it does not start a log: the older definitions are unknown
    sql("ALTER TABLE lake.db.nolog ADD PARTITION FIELD truncate(10, id)")
    assert(metaOf("nolog").specLog.isEmpty)
  }

  test("identity-partitioned DELETE WHERE p = 3 drops the p=3 files " +
      "without rewriting them") {
    sql("CREATE TABLE lake.db.idel (id int, p int) USING lake " +
      "PARTITIONED BY (p)")
    sql("INSERT INTO lake.db.idel SELECT id, id % 5 FROM range(100)")
    sql("INSERT INTO lake.db.idel SELECT id, id % 5 FROM range(100, 150)")
    val before = metaOf("idel").currentSnapshot().get.files
    sql("DELETE FROM lake.db.idel WHERE p = 3")
    val after = metaOf("idel").currentSnapshot().get.files
    assert(after.map(_.path).toSet ==
      before.filterNot(_.partitionValues.get("p").contains("3"))
        .map(_.path).toSet, "only the p=3 files go; nothing is rewritten")
    assert(sql("SELECT * FROM lake.db.idel").count() == 120)
    assert(sql("SELECT * FROM lake.db.idel WHERE p = 3").count() == 0)
  }

  test("FLOAT/DOUBLE and TIMESTAMP identity fields make no claim") {
    sql("CREATE TABLE lake.db.fz (f double, r float, t timestamp) USING lake " +
      "PARTITIONED BY (f, r, t)")
    sql("INSERT INTO lake.db.fz VALUES (0.0D, 0.0F, TIMESTAMP'2024-01-01 00:00:00')")
    sql("INSERT INTO lake.db.fz VALUES (-0.0D, -0.0F, TIMESTAMP'2024-01-01 00:00:00')")
    val parts = PartitionPruning.of(metaOf("fz"))
    assert(parts.isEmpty)
    // -0.0 and 0.0 record different text, but = 0.0 matches both rows
    assert(sql("SELECT * FROM lake.db.fz WHERE f = 0.0D").count() == 2)
    assert(sql("SELECT * FROM lake.db.fz WHERE r = CAST(0.0 AS FLOAT)").count() == 2)
    inZone("Asia/Tokyo") {
      assert(sql("SELECT * FROM lake.db.fz " +
        "WHERE t = TIMESTAMP'2024-01-01 09:00:00'").count() == 2)
    }
  }

  // ---- recorded file sizes ------------------------------------------

  private def lengthOf(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
  }

  private def rowGroupBytes(path: String): Seq[Long] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.map(_.getCompressedSize).toSeq
    } finally reader.close()
  }

  test("a data file and a delete file record their length on disk") {
    sql("""CREATE TABLE lake.db.flen (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.flen SELECT id, concat('v', id) FROM range(0, 100, 1, 1)")
    sql("DELETE FROM lake.db.flen WHERE id = 5")
    val head = metaOf("flen").currentSnapshot().get
    assert(head.files.nonEmpty && head.deleteFiles.nonEmpty)
    (head.files ++ head.deleteFiles).foreach { f =>
      assert(f.sizeBytes == lengthOf(f.path), f.path)
      assert(f.sizeBytes > rowGroupBytes(f.path).sum, f.path)
    }
  }

  test("a file of several row groups reads whole under small splits, " +
      "with its length or an older row-group-sum size recorded") {
    val src = java.nio.file.Files.createTempDirectory("rowgroups").toString + "/src"
    spark.range(0, 20000).selectExpr("id", "sha2(CAST(id AS string), 256) AS v")
      .coalesce(1).write.option("parquet.block.size", "65536").parquet(src)
    sql("CREATE TABLE lake.db.rgs (id bigint, v string) USING lake")
    sql("CALL lake.system.add_files(table => 'db.rgs', " +
      s"source_table => '`parquet`.`$src`')")
    val files = metaOf("rgs").currentSnapshot().get.files
    assert(files.size == 1 && rowGroupBytes(files.head.path).size >= 3)
    assert(files.head.sizeBytes == lengthOf(files.head.path))
    def ids(): Seq[Long] = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      try sql("SELECT id FROM lake.db.rgs").collect().map(_.getLong(0)).toSeq.sorted
      finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    assert(ids() == (0L until 20000L))
    // metadata written while sizes were the row groups' sum
    val (cat, ident) = LakeDdl.resolve(spark, Seq("lake", "db", "rgs"))
    val m = cat.loadMeta(ident)
    val head = m.currentSnapshot().get
    val older = head.files.map(f => f.copy(sizeBytes = rowGroupBytes(f.path).sum))
    cat.commitMeta(m.withSnapshot(head.copy(snapshotId = m.lastSnapshotId + 1,
      parentId = Some(head.snapshotId), files = older, manifestPath = None),
      Some("main")))
    assert(metaOf("rgs").currentSnapshot().get.files.map(_.sizeBytes) ==
      older.map(_.sizeBytes))
    assert(ids() == (0L until 20000L))
  }
}
