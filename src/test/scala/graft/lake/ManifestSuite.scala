package graft.lake

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Per-snapshot manifests: every snapshot's data-file list is written
  * once, by the commit that creates it, and later versions carry only a
  * pointer (layout: [[Manifests]]). Covers the version-file size, the
  * driver-only small-manifest write, pointer resolution across RENAME
  * and register_table, the manifest lifecycle, tables written in the
  * older inline form, and the commit and scan metrics that read it. */
class ManifestSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _

  override def beforeAll(): Unit = {
    wh = Files.createTempDirectory("manifest_wh").toString
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("manifest-suite")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String) = spark.sql(s)
  private def count(s: String): Long = sql(s).collect()(0).getLong(0)
  private def conf = spark.sessionState.newHadoopConf()
  private def loc(t: String) = s"$wh/db/$t"

  /** A reader in a fresh process: no parsed version, no manifest. */
  private def coldStart(): Unit = {
    Manifests.clearCacheForTesting()
    MetadataLog.clearMetaCacheForTesting()
  }

  private def manifests(t: String): Seq[String] =
    Option(new File(loc(t), "metadata/manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq.sorted

  /** The newest version file's JSON, decoded by the engine's reader
    * (version files are stored gzipped). */
  private def newestVersionJson(t: String): String = {
    val newest = new File(loc(t), "metadata").listFiles()
      .filter(_.getName.matches("v\\d+\\.json")).maxBy(_.getName)
    new String(MetadataLog.readBytes(
      new org.apache.hadoop.fs.Path(newest.toURI), conf), StandardCharsets.UTF_8)
  }

  /** The messages of `e` and its causes. */
  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  private def firstSnapshot(t: String): Long =
    count(s"SELECT min(snapshot_id) FROM lake.db.$t.snapshots")

  test("20 small appends: the version file names no data file and " +
      "grows with the snapshot count only") {
    sql("CREATE TABLE lake.db.appends (id bigint, v string) USING lake")
    val versionBytes = scala.collection.mutable.Map.empty[Int, Long]
    val commitBytes = scala.collection.mutable.Map.empty[Int, Long]
    (1 to 20).foreach { i =>
      sql(s"INSERT INTO lake.db.appends VALUES ($i, 'v$i')")
      val t = LakeCommitMetrics.last.get
      assert(t.casRetries == 0, s"an uncontended commit retries nothing: $t")
      commitBytes(i) = t.metadataBytes
      versionBytes(i) = newestVersionJson("appends").length.toLong
    }
    val json = newestVersionJson("appends")
    assert(!json.contains(".parquet") && !json.contains("/data/"),
      s"the newest version names no data file: ${json.take(800)}")
    val m = MetadataLog.load(loc("appends"), conf)
    assert(m.snapshots.size == 20 && m.snapshots.forall(_.manifestPath.isDefined),
      "every snapshot points at its manifest")
    assert(m.snapshots.flatMap(_.manifestPath).distinct.size == 20)
    assert(manifests("appends").size == 20 &&
      manifests("appends").forall(_.endsWith(".json")),
      s"one JSON manifest per snapshot: ${manifests("appends")}")
    // per-snapshot growth of the version file stays flat: inline file
    // lists would add i entries for the i-th snapshot
    val early = (versionBytes(10) - versionBytes(2)) / 8.0
    val late = (versionBytes(20) - versionBytes(10)) / 10.0
    assert(late <= early * 1.25,
      s"version bytes per snapshot grew from $early to $late: $versionBytes")
    // a commit writes its version file plus its own manifest, so its
    // bytes grow by a constant per snapshot of history; re-serializing
    // every list would add i entries more for the i-th commit
    val earlyCommit = (commitBytes(10) - commitBytes(2)) / 8.0
    val lateCommit = (commitBytes(20) - commitBytes(10)) / 10.0
    assert(earlyCommit > 0 && lateCommit <= earlyCommit * 1.25,
      s"commit bytes per snapshot grew from $earlyCommit to $lateCommit: " +
        commitBytes)
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.appends") == 20)
    assert(count(s"SELECT count(*) FROM lake.db.appends VERSION AS OF " +
      s"${firstSnapshot("appends")}") == 1)
  }

  test("a commit under the spill threshold starts no Spark job for its " +
      "manifest") {
    sql("CREATE TABLE lake.db.nojob (id bigint) USING lake")
    sql("INSERT INTO lake.db.nojob VALUES (1), (2)")
    val m = MetadataLog.load(loc("nojob"), conf)
    val head = m.currentSnapshot().get
    val next = SnapshotMeta(m.lastSnapshotId + 1, Some(head.snapshotId),
      System.currentTimeMillis(), "replace", Map.empty,
      head.files.toVector, head.schemaEpoch)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = manifests("nojob")
      spark.sparkContext.setJobGroup("manifest-commit", "commit")
      MetadataLog.commit(m.withSnapshot(next, Some("main")), conf)
      // the listener bus is FIFO: once a later marker job is seen, any
      // job the commit started has been seen too
      spark.sparkContext.setJobGroup("marker", "marker")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(jobs.contains("marker"), "marker job never reached the listener")
      assert(!jobs.contains("manifest-commit"),
        s"the commit ran Spark jobs: $jobs")
      val added = manifests("nojob").diff(before)
      assert(added.size == 1 && added.head.endsWith(".json"), added.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.nojob") == 2)
  }

  /** RENAME, then a cold reader under the new name: head, then time
    * travel to the first snapshot. */
  private def renameThenRead(t: String, props: String = ""): Unit = {
    sql(s"CREATE TABLE lake.db.$t (id bigint) USING lake " +
      (if (props.isEmpty) "" else s"TBLPROPERTIES ($props)"))
    sql(s"INSERT INTO lake.db.$t SELECT id FROM range(0, 10, 1, 4)")
    sql(s"INSERT INTO lake.db.$t VALUES (100)")
    val first = firstSnapshot(t)
    coldStart()
    sql(s"ALTER TABLE lake.db.$t RENAME TO lake.db.${t}_moved")
    coldStart()
    assert(count(s"SELECT count(*) FROM lake.db.${t}_moved") == 11)
    assert(count(s"SELECT count(*) FROM lake.db.${t}_moved VERSION AS OF $first")
      == 10)
  }

  test("RENAME keeps a spilled table readable by a cold reader") {
    renameThenRead("renspill", "'write.metadata.manifest.spill-threshold'='2'")
    assert(manifests("renspill_moved").exists(!_.endsWith(".json")),
      "fixture must spill")
  }

  test("RENAME keeps a small-manifest table readable by a cold reader") {
    renameThenRead("rensmall")
    assert(manifests("rensmall_moved").forall(_.endsWith(".json")))
  }

  test("register_table writes its own manifests: expiring the copy " +
      "leaves the source readable") {
    sql("CREATE TABLE lake.db.regsrc (id bigint) USING lake " +
      "TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')")
    sql("INSERT INTO lake.db.regsrc VALUES (1)") // 1 file: JSON manifest
    sql("INSERT INTO lake.db.regsrc SELECT id FROM range(10, 14, 1, 4)") // spill
    val first = firstSnapshot("regsrc")
    val v = MetadataLog.currentVersion(loc("regsrc"), conf)
    val srcManifests = manifests("regsrc")
    val saved = f"${loc("regsrc")}/metadata/v$v%05d.json"
    sql(s"""CALL lake.system.register_table(table => 'db.regcopy',
           |metadata_file => '$saved')""".stripMargin)
    val copy = MetadataLog.load(loc("regcopy"), conf)
    assert(copy.snapshots.flatMap(_.manifestPath).forall(p =>
      Manifests.pathOf(copy, p).startsWith(loc("regcopy"))),
      "the copy's pointers resolve under its own location")
    sql("""CALL lake.system.expire_snapshots(table => 'db.regcopy',
          |older_than => TIMESTAMP '2099-01-01 00:00:00',
          |retain_last => 1)""".stripMargin).collect()
    assert(manifests("regsrc") == srcManifests,
      "expiring the copy deleted none of the source's manifests")
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.regsrc") == 5)
    assert(count(s"SELECT count(*) FROM lake.db.regsrc VERSION AS OF $first") == 1)
    assert(count("SELECT count(*) FROM lake.db.regcopy") == 5)
  }

  test("expire_snapshots deletes manifests only expired snapshots reference") {
    sql("CREATE TABLE lake.db.expman (id bigint) USING lake")
    (1 to 3).foreach(i => sql(s"INSERT INTO lake.db.expman VALUES ($i)"))
    assert(manifests("expman").size == 3)
    val head = MetadataLog.load(loc("expman"), conf).currentSnapshot().get
    val res = sql("""CALL lake.system.expire_snapshots(table => 'db.expman',
          |older_than => TIMESTAMP '2099-01-01 00:00:00',
          |retain_last => 1)""".stripMargin).collect()(0)
    assert(res.getLong(1) == 2L && res.getLong(2) == 2L, res.toString)
    assert(manifests("expman") ==
      Seq(new File(head.manifestPath.get).getName),
      s"only the head's manifest remains: ${manifests("expman")}")
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.expman") == 3)
  }

  test("remove_orphan_files sweeps stranded manifest files under the age " +
      "guard") {
    sql("CREATE TABLE lake.db.orphman (id bigint) USING lake")
    sql("INSERT INTO lake.db.orphman VALUES (1)")
    val live = manifests("orphman")
    val stray = new File(loc("orphman"), "metadata/manifests/m-999-stranded.json")
    Files.write(stray.toPath, "[]".getBytes(StandardCharsets.UTF_8))
    val kept = sql("CALL lake.system.remove_orphan_files(table => 'db.orphman')")
      .collect()
    assert(kept.isEmpty && stray.exists(), "a fresh manifest is protected")
    val cutoff = java.sql.Timestamp.from(java.time.Instant.now().plusSeconds(60))
    val removed = sql(
      s"""CALL lake.system.remove_orphan_files(table => 'db.orphman',
         |older_than => TIMESTAMP '$cutoff')""".stripMargin)
      .collect().map(_.getString(0))
    assert(removed.length == 1 && removed.head.endsWith("m-999-stranded.json"),
      removed.mkString(", "))
    assert(!stray.exists() && manifests("orphman") == live)
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.orphman") == 1)
  }

  test("a commit that loses the CAS deletes the manifest it wrote") {
    sql("CREATE TABLE lake.db.casman (id bigint) USING lake")
    sql("INSERT INTO lake.db.casman VALUES (1)")
    val stale = MetadataLog.load(loc("casman"), conf)
    MetadataLog.commit(MetadataLog.load(loc("casman"), conf), conf)
    val before = manifests("casman")
    val head = stale.currentSnapshot().get
    val next = SnapshotMeta(stale.lastSnapshotId + 1, Some(head.snapshotId),
      System.currentTimeMillis(), "replace", Map.empty,
      head.files.toVector, head.schemaEpoch)
    intercept[java.util.ConcurrentModificationException] {
      MetadataLog.commit(stale.withSnapshot(next, Some("main")), conf)
    }
    assert(manifests("casman") == before,
      s"the losing attempt's manifest must be gone: ${manifests("casman")}")
  }

  test("a version file in the older inline form loads, scans, time-travels " +
      "and turns into pointers on its next commit") {
    sql("CREATE TABLE lake.db.legacy (id bigint) USING lake")
    sql("INSERT INTO lake.db.legacy VALUES (1), (2)")
    sql("INSERT INTO lake.db.legacy VALUES (3)")
    val first = firstSnapshot("legacy")
    val m = MetadataLog.load(loc("legacy"), conf)
    val inline = m.copy(version = m.version + 1,
      snapshots = m.snapshots.map(s =>
        s.copy(files = s.files.toList, manifestPath = None)))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val meta = new File(loc("legacy"), "metadata")
    Files.write(new File(meta, f"v${inline.version}%05d.json").toPath,
      org.json4s.jackson.Serialization.write(inline)
        .getBytes(StandardCharsets.UTF_8))
    Files.write(new File(meta, "version-hint.text").toPath,
      inline.version.toString.getBytes(StandardCharsets.UTF_8))
    // nothing may come from a manifest
    new File(meta, "manifests").listFiles().foreach(_.delete())
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.legacy") == 3)
    assert(count(s"SELECT count(*) FROM lake.db.legacy VERSION AS OF $first") == 2)
    sql("INSERT INTO lake.db.legacy VALUES (4)")
    val json = newestVersionJson("legacy")
    assert(!json.contains(".parquet"), s"inline lists left: ${json.take(800)}")
    assert(MetadataLog.load(loc("legacy"), conf).snapshots
      .forall(_.manifestPath.isDefined))
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.legacy") == 4)
    assert(count(s"SELECT count(*) FROM lake.db.legacy VERSION AS OF $first") == 2)
  }

  test("absolute manifest pointers of older tables still load and move " +
      "with RENAME") {
    sql("CREATE TABLE lake.db.abspath (id bigint) USING lake " +
      "TBLPROPERTIES ('write.metadata.manifest.spill-threshold'='2')")
    sql("INSERT INTO lake.db.abspath VALUES (1)") // JSON manifest
    sql("INSERT INTO lake.db.abspath SELECT id FROM range(10, 14, 1, 4)") // spill
    val first = firstSnapshot("abspath")
    val m = MetadataLog.load(loc("abspath"), conf)
    // the pointer form written before pointers became relative
    val absolute = m.copy(version = m.version + 1,
      snapshots = m.snapshots.map(s => s.copy(files = Nil,
        manifestPath = s.manifestPath.map(p => s"${m.location}/metadata/$p"))))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val meta = new File(loc("abspath"), "metadata")
    Files.write(new File(meta, f"v${absolute.version}%05d.json").toPath,
      org.json4s.jackson.Serialization.write(absolute)
        .getBytes(StandardCharsets.UTF_8))
    Files.write(new File(meta, "version-hint.text").toPath,
      absolute.version.toString.getBytes(StandardCharsets.UTF_8))
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.abspath") == 5)
    assert(count(s"SELECT count(*) FROM lake.db.abspath VERSION AS OF $first") == 1)
    sql("ALTER TABLE lake.db.abspath RENAME TO lake.db.abspath_moved")
    coldStart()
    assert(count("SELECT count(*) FROM lake.db.abspath_moved") == 5)
    assert(count(s"SELECT count(*) FROM lake.db.abspath_moved VERSION AS OF $first")
      == 1)
  }

  test("after a cold load a filtered read of a small table reports its " +
      "skipped files") {
    sql("CREATE TABLE lake.db.skipped (id bigint) USING lake")
    Seq(0, 10, 20).foreach(b => // one file per commit
      sql(s"INSERT INTO lake.db.skipped SELECT id FROM range(${b + 1}, ${b + 3}, 1, 1)"))
    coldStart()
    val q = sql("SELECT * FROM lake.db.skipped WHERE id = 11")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(11L))
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.asInstanceOf[LakeBatchScan]
    val metrics = scan.reportDriverMetrics().map(x => x.name -> x.value).toMap
    assert(metrics("plannedDataFiles") == 1 &&
      metrics.get("skippedDataFiles").contains(2L), metrics.toString)
  }

  test("RENAME refuses a table whose snapshots carry delete files, and " +
      "the table stays readable under its old name") {
    sql("CREATE TABLE lake.db.renmor (id bigint) USING lake " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    sql("INSERT INTO lake.db.renmor SELECT id FROM range(0, 20, 1, 2)")
    sql("DELETE FROM lake.db.renmor WHERE id IN (3, 15)")
    assert(count("SELECT count(*) FROM lake.db.renmor") == 18)
    coldStart()
    val e = intercept[Exception](
      sql("ALTER TABLE lake.db.renmor RENAME TO lake.db.renmor_moved"))
    val msg = causes(e)
    val named = "(\\d+) position/equality delete files".r.findFirstMatchIn(msg)
    assert(msg.contains("db.renmor") && named.exists(_.group(1).toInt > 0), msg)
    assert(!spark.catalog.tableExists("lake.db.renmor_moved"))
    coldStart()
    val ids = sql("SELECT id FROM lake.db.renmor").collect().map(_.getLong(0)).toSet
    assert(ids == ((0L until 20L).toSet -- Set(3L, 15L)))
  }

  test("an unreadable version file or JSON manifest fails with its path") {
    sql("CREATE TABLE lake.db.torn (id bigint) USING lake")
    sql("INSERT INTO lake.db.torn VALUES (1)")
    sql("INSERT INTO lake.db.torn VALUES (2)")
    def truncate(f: File): Unit = {
      val bytes = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    }
    val jsonManifests = manifests("torn").filter(_.endsWith(".json"))
    assert(jsonManifests.nonEmpty)
    jsonManifests.foreach(n => truncate(new File(loc("torn"), s"metadata/manifests/$n")))
    coldStart()
    val m = intercept[Exception](sql("SELECT * FROM lake.db.torn").collect())
    assert(causes(m).contains("unreadable metadata file") &&
      jsonManifests.exists(causes(m).contains(_)), causes(m))
    // a killed committer: the newest version torn, no hint written
    val newest = new File(loc("torn"), "metadata").listFiles()
      .filter(_.getName.matches("v\\d+\\.json")).maxBy(_.getName)
    truncate(newest)
    Files.delete(new File(loc("torn"), "metadata/version-hint.text").toPath)
    coldStart()
    val v = intercept[Exception](sql("SELECT * FROM lake.db.torn").collect())
    assert(causes(v).contains(s"unreadable metadata file") &&
      causes(v).contains(newest.getName), causes(v))
  }
}
