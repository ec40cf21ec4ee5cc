package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[LocalFs]]: the lake's `file:` filesystem sets the permission bits
  * stock `LocalFileSystem` sets, without forking, and every file a lake
  * write or commit creates goes through it. */
class LocalFsSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _
  private var scratch: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    wh = Files.createTempDirectory("local_fs_wh").toString
    scratch = Files.createTempDirectory("local_fs_bits")
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("local-fs-suite")
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

  private def init(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("files, .crc files and directories get stock LocalFileSystem's bits " +
      "under the umask, with no fork") {
    val before = LocalFs.fallbacks
    for (umask <- Seq("022", "077"); perm <- Seq("644", "755", "700")) {
      val modes = Seq(new LocalFileSystem -> "stock", new LocalFs -> "nio")
        .map { case (fs0, tag) =>
          val fs = init(fs0, umask)
          val base = new Path(scratch.toUri.toString, s"$umask-$perm-$tag")
          val file = new Path(base, "f.parquet")
          val dir = new Path(base, "d")
          val p = new FsPermission(perm)
          fs.create(file, p, true, 4096, 1.toShort, 1L << 20, null).close()
          assert(fs.mkdirs(dir, p))
          Seq(file, new Path(base, ".f.parquet.crc"), dir)
            .map(q => mode(Paths.get(q.toUri)))
        }
      assert(modes(0) == modes(1), s"umask $umask, $perm: stock vs LocalFs")
    }
    assert(LocalFs.fallbacks == before)
  }

  test("bits NIO cannot set fall back to Hadoop") {
    val fs = init(new LocalFs, "022")
    val dir = new Path(scratch.toUri.toString, "sticky")
    assert(fs.mkdirs(dir))
    val before = LocalFs.fallbacks
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(LocalFs.fallbacks == before + 1)
    assert(mode(Paths.get(dir.toUri)) == Integer.parseInt("1755", 8))
  }

  test("the lake's confs resolve file: to LocalFs and leave the cache alone") {
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[LakeCatalog]
    val conf = cat.hadoopConf
    assert(MetadataLog.fs(wh, conf).isInstanceOf[LocalFs])
    // one shared instance serves metadata lookups
    assert(MetadataLog.fs(wh, conf) eq MetadataLog.fs(wh, conf))
    assert(new Path(wh).getFileSystem(conf).isInstanceOf[LocalFs])
    val session = spark.sessionState.newHadoopConf()
    assert(!new Path(wh).getFileSystem(session).isInstanceOf[LocalFs])
    assert(!MetadataLog.fs(wh, session).isInstanceOf[LocalFs])
  }

  test("INSERT, copy-on-write DELETE, compaction, merge-on-read DELETE and " +
      "UPDATE create every file through LocalFs, forking nothing") {
    val traced = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val before = LocalFs.fallbacks
    LocalFs.trace = traced
    try {
      sql("CREATE TABLE lake.db.t (id bigint, v string) USING lake " +
        "PARTITIONED BY (bucket(2, id))")
      sql("CREATE TABLE lake.db.flat (id bigint, v string) USING lake")
      for (i <- 0 until 3) {
        sql(s"INSERT INTO lake.db.t SELECT id, concat('v', id) " +
          s"FROM range(${i * 100}, ${i * 100 + 100})")
        sql(s"INSERT INTO lake.db.flat VALUES ($i, 'f$i')")
      }
      sql("DELETE FROM lake.db.t WHERE id = 5")
      sql("CALL lake.system.rewrite_data_files(table => 'db.t')")
      sql("ALTER TABLE lake.db.t SET TBLPROPERTIES (" +
        "'write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='merge-on-read')")
      sql("DELETE FROM lake.db.t WHERE id = 7")
      sql("UPDATE lake.db.t SET v = 'u' WHERE id = 9")
    } finally LocalFs.trace = null
    assert(sql("SELECT count(*) FROM lake.db.t").collect()(0).getLong(0) == 298)
    assert(sql("SELECT v FROM lake.db.t WHERE id = 9").collect()(0).getString(0) == "u")
    assert(LocalFs.fallbacks == before, "a lake write forked chmod")
    val files = Files.walk(Paths.get(wh)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.toString.contains("/metadata/deletes/")),
      "the merge-on-read DELETE wrote no delete file")
    // version files, JSON manifests and the version hint are written by
    // NIO directly (an atomic create-new), not through any FileSystem
    def nioMetadata(p: java.nio.file.Path): Boolean = {
      val n = p.getFileName.toString
      p.toString.contains("/metadata/") && !p.toString.contains("/deletes/") &&
        (n.endsWith(".json") || n == "version-hint.text")
    }
    val missed = files.filterNot(p => nioMetadata(p) || traced.contains(p.toString))
    assert(missed.isEmpty, s"created outside LocalFs: ${missed.take(5)}")
  }
}
