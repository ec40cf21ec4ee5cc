package graft.lake

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** [[LakeDriverReadExec]]: a read planning one input partition is
  * collected on the driver with no Spark job, and returns what the job
  * path returns. Every case checks both sides of the gate against a
  * model: job counts come from a listener, the job path's rows from
  * `df.rdd` (which always executes the child plan). */
class DriverReadSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _
  private val jobGroups = new ConcurrentLinkedQueue[String]()

  override def beforeAll(): Unit = {
    wh = java.nio.file.Files.createTempDirectory("driver_read_wh").toString
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("driver-read-suite")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .withExtensions(new LakeExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    })
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String): DataFrame = spark.sql(s)
  private val probes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `body`'s result and the number of Spark jobs it started. The
    * listener bus is FIFO: once a later marker job is seen, every job
    * of `body` has been seen too. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val tag = s"probe-${probes.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!jobGroups.contains(s"$tag-marker") &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(jobGroups.contains(s"$tag-marker"), "marker job never reached the listener")
    (out, jobGroups.asScala.count(_ == tag))
  }

  private def rows(rs: Array[Row]): Seq[String] = rs.map(_.toString).toSeq.sorted

  /** Collect `q`, asserting it ran on the driver (0 jobs) or as a job
    * (>= 1) as `onDriver` says, and that the job path returns the same
    * rows. */
  private def check(q: String, onDriver: Boolean): Seq[String] = {
    val df = sql(q)
    val (got, jobs) = jobsOf(df.collect())
    if (onDriver) assert(jobs == 0, s"$q started $jobs jobs")
    else assert(jobs >= 1, s"$q ran on the driver")
    val viaJob = rows(sql(q).rdd.collect())
    assert(rows(got) == viaJob, s"$q: driver ${rows(got)} vs job $viaJob")
    rows(got)
  }

  private def scanOf(plan: SparkPlan): BatchScanExec =
    plan.collectFirst { case b: BatchScanExec => b }.get

  /** Two ids of `lake.db.pt` in different bucket files. */
  private lazy val twoBuckets: (Long, Long) = {
    val byFile = sql("SELECT id, _file FROM lake.db.pt").collect()
      .groupBy(_.getString(1)).values.map(_.head.getLong(0)).toSeq.sorted
    (byFile(0), byFile(1))
  }

  test("one input partition reads on the driver; two take the job path " +
      "with the same rows") {
    sql("CREATE TABLE lake.db.pt (id bigint, cust int, status string) USING lake " +
      "PARTITIONED BY (bucket(4, id))")
    sql("INSERT INTO lake.db.pt SELECT id, CAST(id % 7 AS int), concat('s', id) " +
      "FROM range(0, 40, 1, 1)")
    val model = (0L until 40L).map(i => i -> Row(i, (i % 7).toInt, s"s$i")).toMap
    assert(sql("SELECT * FROM lake.db.pt.files").count() == 4)
    Seq(0L, 7L, 13L, 39L).foreach { k =>
      assert(check(s"SELECT id, cust, status FROM lake.db.pt WHERE id = $k",
        onDriver = true) == Seq(model(k).toString))
    }
    // a key with no row reads its bucket's file and returns nothing
    assert(check("SELECT id FROM lake.db.pt WHERE id = 1000", onDriver = true).isEmpty)
    val (a, b) = twoBuckets
    val two = sql(s"SELECT id FROM lake.db.pt WHERE id IN ($a, $b)")
    assert(scanOf(two.queryExecution.executedPlan).inputPartitions.size == 2)
    assert(check(s"SELECT id, cust, status FROM lake.db.pt WHERE id IN ($a, $b)",
      onDriver = false) == Seq(model(a), model(b)).map(_.toString).sorted)
    // explain and the scan node are unchanged under the wrapper
    val plan = sql("SELECT id FROM lake.db.pt WHERE id = 7").queryExecution.executedPlan
    assert(plan.isInstanceOf[LakeDriverReadExec], plan.treeString)
    assert(plan.collect { case b: BatchScanExec => b }.size == 1)
  }

  test("scan metrics are the same on both paths") {
    val q = "SELECT id FROM lake.db.pt WHERE id = 7"
    def metrics(plan: SparkPlan): Map[String, Long] = {
      val b = scanOf(plan)
      Seq("plannedDataFiles", "skippedDataFiles", "numOutputRows")
        .map(k => k -> b.metrics(k).value).toMap
    }
    val driver = sql(q)
    driver.collect()
    val job = sql(q)
    job.queryExecution.toRdd.count()
    val (d, j) = (metrics(driver.queryExecution.executedPlan),
      metrics(job.queryExecution.executedPlan))
    assert(d("plannedDataFiles") == 1 && d("skippedDataFiles") == 3, d.toString)
    assert(d == j, s"driver $d vs job $j")
  }

  test("a pushed filter is re-applied to the rows of a kept row group") {
    sql("CREATE TABLE lake.db.one (id bigint, v string) USING lake")
    sql("INSERT INTO lake.db.one SELECT id, concat('v', id) FROM range(0, 100, 1, 1)")
    assert(check("SELECT id, v FROM lake.db.one WHERE id = 42", onDriver = true) ==
      Seq(Row(42L, "v42").toString))
    assert(check("SELECT id FROM lake.db.one WHERE id > 95", onDriver = true) ==
      (96L until 100L).map(i => Row(i).toString))
    assert(check("SELECT v FROM lake.db.one WHERE v LIKE 'v9%' AND id < 95",
      onDriver = true) == (Seq("v9") ++ (90 until 95).map(i => s"v$i")).map(Row(_).toString).sorted)
  }

  test("LIMIT, OFFSET, take and head read on the driver") {
    val q = "SELECT id FROM lake.db.one"
    val all = sql(q).rdd.collect().map(_.getLong(0)).toSeq // file order
    assert(check(s"$q LIMIT 3", onDriver = true) ==
      rows(all.take(3).map(Row(_)).toArray))
    assert(check(s"$q LIMIT 3 OFFSET 2", onDriver = true) ==
      rows(all.slice(2, 5).map(Row(_)).toArray))
    val (taken, jobs) = jobsOf(sql(q).take(4))
    assert(jobs == 0 && taken.map(_.getLong(0)).toSeq == all.take(4))
    val (head, headJobs) = jobsOf(sql(s"$q WHERE id = 5").head())
    assert(headJobs == 0 && head.getLong(0) == 5L)
    assert(jobsOf(sql(s"$q WHERE id = 500").isEmpty) == (true, 0))
  }

  test("merge-on-read position deletes apply on the driver path") {
    sql("""CREATE TABLE lake.db.mor (id bigint, v string) USING lake
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        |  'write.update.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO lake.db.mor SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    sql("INSERT INTO lake.db.mor SELECT id, concat('v', id) FROM range(10, 20, 1, 1)")
    sql("DELETE FROM lake.db.mor WHERE id IN (3, 15)")
    sql("UPDATE lake.db.mor SET v = 'upd' WHERE id = 16")
    val model = (0L until 20L).filterNot(Set(3L, 15L)).map(i =>
      i -> (if (i == 16L) "upd" else s"v$i")).toMap
    // id = 16 reads the old file (masked) and the update's new file
    (0L until 20L).filterNot(_ == 16L).foreach { k =>
      assert(check(s"SELECT id, v FROM lake.db.mor WHERE id = $k", onDriver = true) ==
        model.get(k).map(v => Row(k, v).toString).toSeq, s"id = $k")
    }
    assert(check("SELECT id, v FROM lake.db.mor WHERE id = 16", onDriver = false) ==
      Seq(Row(16L, "upd").toString))
    assert(check("SELECT id FROM lake.db.mor WHERE id < 10", onDriver = true) ==
      rows((0L until 10L).filterNot(_ == 3L).map(Row(_)).toArray))
  }

  test("equality deletes apply on the driver path") {
    sql("""CREATE TABLE lake.db.eq (id bigint NOT NULL, v string) USING lake
        |TBLPROPERTIES ('identifier-fields'='id', 'write.upsert.enabled'='true')
        |""".stripMargin)
    val s = spark
    import s.implicits._
    (1L to 10L).map(i => (i, ('a' + i - 1).toChar.toString)).toDF("id", "v")
      .coalesce(1).writeTo("lake.db.eq").append()
    // upsert of key 2: a new file holding (2, 'B') and an equality delete
    Seq((2L, "B")).toDF("id", "v").coalesce(1).writeTo("lake.db.eq").append()
    assert(sql("SELECT * FROM lake.db.eq.delete_files WHERE content = 2").count() == 1)
    // stats prune the upsert's file ('B' is outside ['a', 'c']): one
    // file, read through its equality delete
    assert(check("SELECT id, v FROM lake.db.eq WHERE v IN ('a', 'b', 'c')",
      onDriver = true) == Seq(Row(1L, "a"), Row(3L, "c")).map(_.toString))
    assert(check("SELECT id, v FROM lake.db.eq WHERE id = 3", onDriver = true) ==
      Seq(Row(3L, "c").toString))
    assert(check("SELECT id, v FROM lake.db.eq WHERE id = 2", onDriver = false) ==
      Seq(Row(2L, "B").toString))
  }

  test("a file of an older schema epoch reads under its epoch names") {
    sql("CREATE TABLE lake.db.ev (id bigint, data string) USING lake")
    sql("INSERT INTO lake.db.ev SELECT id, concat('d', id) FROM range(0, 5, 1, 1)")
    sql("ALTER TABLE lake.db.ev RENAME COLUMN data TO payload")
    sql("ALTER TABLE lake.db.ev ADD COLUMN extra int")
    sql("INSERT INTO lake.db.ev SELECT id, concat('d', id), CAST(id * 10 AS int) " +
      "FROM range(5, 10, 1, 1)")
    assert(check("SELECT id, payload, extra FROM lake.db.ev WHERE id = 3",
      onDriver = true) == Seq(Row(3L, "d3", null).toString))
    assert(check("SELECT id, payload, extra FROM lake.db.ev WHERE id = 8",
      onDriver = true) == Seq(Row(8L, "d8", 80).toString))
    assert(check("SELECT id, payload, extra FROM lake.db.ev WHERE id IN (3, 8)",
      onDriver = false) == Seq(Row(3L, "d3", null), Row(8L, "d8", 80)).map(_.toString))
  }

  test("_file and _pos, and VERSION AS OF, read on the driver") {
    val file = sql("SELECT _file FROM lake.db.one WHERE id = 0").rdd.collect()
      .head.getString(0)
    assert(check("SELECT id, _pos, _file FROM lake.db.one WHERE id = 42",
      onDriver = true) == Seq(Row(42L, 42L, file).toString))
    val before = sql("SELECT max(snapshot_id) FROM lake.db.pt.snapshots")
      .collect()(0).getLong(0)
    sql("UPDATE lake.db.pt SET status = 'changed' WHERE id = 7")
    assert(check("SELECT status FROM lake.db.pt WHERE id = 7", onDriver = true) ==
      Seq(Row("changed").toString))
    assert(check(s"SELECT status FROM lake.db.pt VERSION AS OF $before WHERE id = 7",
      onDriver = true) == Seq(Row("s7").toString))
  }

  test("rand() and an IN subquery take the job path") {
    // (a comparison of rand() with a literal is folded by the optimizer)
    assert(check("SELECT id FROM lake.db.pt WHERE id = 7 AND rand(1) + id > 0",
      onDriver = false) == Seq(Row(7L).toString))
    assert(check("SELECT id FROM lake.db.pt WHERE id IN (SELECT id FROM lake.db.one " +
      "WHERE id = 7)", onDriver = false) == Seq(Row(7L).toString))
    val withSub = sql("SELECT id FROM lake.db.pt WHERE id = 7 AND " +
      "id < (SELECT max(id) FROM lake.db.one)")
    assert(!withSub.queryExecution.executedPlan.exists(_.isInstanceOf[LakeDriverReadExec]))
    assert(withSub.collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("an ANSI overflow raises the same error on both paths") {
    def condition(q: String): String = {
      val e = intercept[Exception](sql(q).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null &&
            t.getCondition.contains("OVERFLOW") => t.getCondition
      }.getOrElse(fail(s"$q: no overflow error in $e"))
    }
    val big = Long.MaxValue
    val driver = condition(s"SELECT (id + 2) * $big FROM lake.db.pt WHERE id = 9")
    val (a, b) = twoBuckets
    val job = condition(s"SELECT (id + 2) * $big FROM lake.db.pt WHERE id IN ($a, $b)")
    assert(driver == job && driver == "ARITHMETIC_OVERFLOW", s"$driver vs $job")
  }

  test("a 64-file scan plans from the manifest and starts no listing job") {
    sql("CREATE TABLE lake.db.wide (id bigint) USING lake")
    sql("INSERT INTO lake.db.wide SELECT id FROM range(0, 64, 1, 64)")
    assert(sql("SELECT * FROM lake.db.wide.files").count() == 64)
    Manifests.clearCacheForTesting()
    MetadataLog.clearMetaCacheForTesting()
    val df = sql("SELECT id FROM lake.db.wide")
    // planning builds the scan's file index
    val (parts, jobs) = jobsOf(scanOf(df.queryExecution.executedPlan).inputPartitions)
    assert(jobs == 0, s"planning a 64-file scan started $jobs jobs")
    assert(parts.nonEmpty)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 64L))
    assert(scanOf(df.queryExecution.executedPlan).metrics("plannedDataFiles").value == 64)
  }
}
