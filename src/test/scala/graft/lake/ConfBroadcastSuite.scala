package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The local filesystem, counting the parquet files it opens: a reader
  * only reaches it through a conf that names it as `fs.file.impl`. */
class OpenCountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet")) OpenCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opens = new java.util.concurrent.atomic.AtomicLong(0)
}

/** [[ConfBroadcasts]]: lake parquet reader factories broadcast their
  * Hadoop conf once per distinct (context, conf content). Repeated
  * point reads broadcast nothing, a changed setting broadcasts anew and
  * reaches the reader, a stopped context's broadcast is never reused,
  * and the broadcast conf is the one Spark's own `ParquetScan` builds. */
class ConfBroadcastSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("conf-broadcast-suite")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .withExtensions(new LakeExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def beforeAll(): Unit = {
    wh = java.nio.file.Files.createTempDirectory("conf_broadcast_wh").toString
    spark = session()
    sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
    // one file per partition value: a read filtered on p plans one file
    sql("CREATE TABLE lake.db.pt (id bigint, p int, v string) USING lake " +
      "PARTITIONED BY (p)")
    sql("INSERT INTO lake.db.pt SELECT id, CAST(id % 2 AS INT), " +
      "concat('v', CAST(id AS STRING)) FROM range(0, 40, 1, 1)")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String) = spark.sql(s)

  private def pointRead(i: Int): Seq[(Long, String)] =
    sql(s"SELECT id, v FROM lake.db.pt WHERE p = ${i % 2} AND id = $i")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def model(i: Int): Seq[(Long, String)] = Seq((i.toLong, s"v$i"))

  /** `body`'s result, the broadcasts it made in all (a context numbers
    * its broadcasts in sequence) and those [[ConfBroadcasts]] made. */
  private def broadcastsOf[T](body: => T): (T, Long, Long) = {
    def nextId(): Long = {
      val b = spark.sparkContext.broadcast(0)
      try b.id finally b.destroy()
    }
    val id0 = nextId()
    val conf0 = ConfBroadcasts.createdCount
    val out = body
    (out, nextId() - id0 - 1, ConfBroadcasts.createdCount - conf0)
  }

  private def scanOf(q: String): BatchScanExec = {
    val df = sql(q)
    df.collect()
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
  }

  test("50 point reads of one table state create at most one conf broadcast") {
    val (got, _, confs) = broadcastsOf((0 until 50).map(i => pointRead(i % 40)))
    assert(got == (0 until 50).map(i => model(i % 40)))
    assert(confs <= 1, s"50 point reads made $confs conf broadcasts")
    // from then on a point read runs on the driver and broadcasts nothing
    val (again, all, more) = broadcastsOf(pointRead(7))
    assert(again == model(7))
    assert(more == 0 && all == 0, s"a warm point read made $all broadcasts")
  }

  test("a setting that lands in the conf broadcasts anew, and the read " +
      "honours it") {
    assert(pointRead(3) == model(3))
    OpenCountingFs.opens.set(0)
    try {
      spark.conf.set("fs.file.impl", classOf[OpenCountingFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      val (got, _, confs) = broadcastsOf(pointRead(3))
      assert(got == model(3))
      assert(confs == 1, s"a changed conf made $confs broadcasts")
      assert(OpenCountingFs.opens.get() > 0,
        "the reader did not open its file through the changed conf")
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    val opened = OpenCountingFs.opens.get()
    val (back, _, confs) = broadcastsOf(pointRead(5))
    assert(back == model(5))
    assert(confs == 0, "the earlier conf's broadcast should still be cached")
    assert(OpenCountingFs.opens.get() == opened)
  }

  test("the broadcast conf equals Spark's own ParquetScan's, entry for entry") {
    val table = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "pt")).asInstanceOf[LakeTable]
    val files = LakeMeta.of(spark, Seq("lake", "db", "pt")).currentSnapshot().get.files
    val schema = table.schema()
    val read = StructType(schema.fields.filter(_.name != "p"))
    val pushed: Array[sources.Filter] = Array(sources.EqualTo("id", 3L))
    val options = new CaseInsensitiveStringMap(
      Map("mergeSchema" -> "false", "datetimeRebaseMode" -> "CORRECTED").asJava)
    val lake = LakeScans.parquetScan(spark, table, files, schema, read, pushed,
      options)
    val own = ParquetScan(spark, spark.sessionState.newHadoopConf(),
      lake.fileIndex, schema, read, StructType(Nil), pushed, options)
    val l = lake.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    val s = own.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    def entries(f: ParquetPartitionReaderFactory): Map[String, String] =
      f.broadcastedConf.value.value.iterator().asScala
        .map(e => e.getKey -> e.getValue).toMap
    val (le, se) = (entries(l), entries(s))
    val differ = (le.keySet ++ se.keySet).filter(k => le.get(k) != se.get(k))
    assert(differ.isEmpty, differ.toSeq.sorted.map(k =>
      s"$k: lake ${le.get(k)} vs spark ${se.get(k)}").mkString("; "))
    assert(le.contains("org.apache.spark.sql.parquet.row.requested_schema"))
    assert(l.copy(broadcastedConf = s.broadcastedConf, options = s.options) == s)
    def opts(f: ParquetPartitionReaderFactory) = (f.options.mergeSchema,
      f.options.datetimeRebaseModeInRead, f.options.int96RebaseModeInRead,
      f.options.compressionCodecClassName)
    assert(opts(l) == opts(s))
  }

  test("a read of two partitions (job path) returns what the driver path " +
      "reads, and repeats broadcast no conf") {
    def rows(q: String): Seq[String] = sql(q).collect().map(_.toString).toSeq.sorted
    val all = "SELECT id, p, v FROM lake.db.pt"
    assert(scanOf(all).inputPartitions.size >= 2)
    assert(scanOf(s"$all WHERE p = 0").inputPartitions.size == 1)
    val viaJob = rows(all)
    val (again, _, confs) = broadcastsOf(rows(all))
    assert(again == viaJob)
    assert(confs == 0, s"a repeated job-path read made $confs conf broadcasts")
    val onDriver = rows(s"$all WHERE p = 0") ++ rows(s"$all WHERE p = 1")
    assert(viaJob == onDriver.sorted)
    assert(viaJob == (0 until 40).map(i => Row(i.toLong, i % 2, s"v$i").toString)
      .sorted)
  }

  test("50 appends to one table make at most one writer-conf broadcast") {
    sql("CREATE TABLE lake.db.appends (id bigint, v string) USING lake")
    val (_, _, confs) = broadcastsOf((0 until 50).foreach(i =>
      sql(s"INSERT INTO lake.db.appends VALUES ($i, 'a$i')")))
    assert(confs <= 1, s"50 appends made $confs conf broadcasts")
    assert(sql("SELECT count(*), sum(id) FROM lake.db.appends").collect()
      .head == Row(50L, (0 until 50).sum.toLong))
  }

  test("after stop() a new context gets a broadcast of its own") {
    val conf = new Configuration(false)
    conf.set("graft.test.key", "v")
    val old = ConfBroadcasts(spark.sparkContext, conf)
    assert(ConfBroadcasts(spark.sparkContext, conf) eq old)
    val stopped = spark.sparkContext
    spark.stop()
    spark = session()
    assert(spark.sparkContext ne stopped)
    val before = ConfBroadcasts.createdCount
    val fresh = ConfBroadcasts(spark.sparkContext, conf)
    assert(fresh ne old)
    assert(ConfBroadcasts.createdCount == before + 1)
    assert(fresh.value.value.get("graft.test.key") == "v")
    assert(pointRead(9) == model(9))
  }
}
