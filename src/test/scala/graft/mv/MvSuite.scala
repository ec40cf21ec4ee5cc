package graft.mv

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.funsuite.AnyFunSuite

/** MV lifecycle + rewrite fidelity, mirroring the reference's
  * MaterializedViewSuite / AggregateRewriteSuite / JoinRewriteSuite
  * assertion styles: plan-shape (backing table appears in the
  * optimized plan) and hand-computed result correctness, plus
  * negative tests asserting the rewrite does NOT fire. */
class MvSuite extends AnyFunSuite with BeforeAndAfterAll with BeforeAndAfterEach {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("mv_wh").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("mv-suite")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.catalog.lake", classOf[graft.lake.LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse",
        java.nio.file.Files.createTempDirectory("mv_lake_wh").toString)
      .withExtensions(new MvExtensions)
      .withExtensions(new graft.lake.LakeExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
    spark.sql("""CREATE TABLE sales (region string, product string,
                | amount bigint, qty bigint) USING parquet""".stripMargin)
    spark.sql("""INSERT INTO sales VALUES
                | ('east','a',100,1),('east','b',200,2),
                | ('west','a',300,3),('west','b',400,4),
                | ('west','c',500,5)""".stripMargin)
    spark.sql("CREATE TABLE regions (region string, country string) USING parquet")
    spark.sql("INSERT INTO regions VALUES ('east','us'),('west','us')")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()
  override def afterEach(): Unit = {
    MvCatalog.list().foreach(m =>
      spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS ${m.name}"))
  }

  private def sql(s: String) = spark.sql(s)
  private def usesBacking(df: org.apache.spark.sql.DataFrame, mv: String): Boolean =
    df.queryExecution.optimizedPlan.toString.contains(MvCommands.backingName(mv))

  test("lifecycle: create, show, refresh, drop") {
    sql("CREATE TABLE sales_lc USING parquet AS SELECT * FROM sales")
    sql("CREATE MATERIALIZED VIEW mv1 AS SELECT region, sum(amount) AS s FROM sales_lc GROUP BY region")
    val shown = sql("SHOW MATERIALIZED VIEWS").collect()
    assert(shown.length == 1 && shown(0).getString(0) == "mv1")
    assert(shown(0).getLong(6) == 2) // row_count

    sql("INSERT INTO sales_lc VALUES ('north','z',50,1)")
    sql("REFRESH MATERIALIZED VIEW mv1")
    assert(sql("SHOW MATERIALIZED VIEWS").collect()(0).getLong(6) == 3)
    sql("REFRESH MATERIALIZED VIEW mv1 INCREMENTAL")

    sql("DROP MATERIALIZED VIEW mv1")
    assert(sql("SHOW MATERIALIZED VIEWS").count() == 0)
    sql("DROP TABLE sales_lc")
  }

  test("exact match rewrite") {
    sql("CREATE MATERIALIZED VIEW mv_exact AS SELECT region, sum(amount) AS total FROM sales GROUP BY region")
    val df = sql("SELECT region, sum(amount) AS total FROM sales GROUP BY region")
    assert(usesBacking(df, "mv_exact"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("east" -> 300L, "west" -> 1200L))
  }

  test("roll-up rewrite: SUM/COUNT/MIN/MAX re-aggregate from finer MV") {
    sql("""CREATE MATERIALIZED VIEW mv_fine AS
          |SELECT region, product, sum(amount) AS sum_amount,
          |       count(*) AS cnt, min(amount) AS min_amount,
          |       max(amount) AS max_amount
          |FROM sales GROUP BY region, product""".stripMargin)
    val df = sql("""SELECT region, sum(amount) AS sum_amount, count(*) AS cnt,
                   |  min(amount) AS min_amount, max(amount) AS max_amount
                   |FROM sales GROUP BY region""".stripMargin)
    assert(usesBacking(df, "mv_fine"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(res("east") == ((300L, 2L, 100L, 200L)))
    assert(res("west") == ((1200L, 3L, 300L, 500L)))
  }

  test("AVG derived from SUM and COUNT") {
    sql("""CREATE MATERIALIZED VIEW mv_avg AS
          |SELECT region, product, sum(amount) AS s, count(amount) AS c
          |FROM sales GROUP BY region, product""".stripMargin)
    val df = sql("SELECT region, avg(amount) AS a FROM sales GROUP BY region")
    assert(usesBacking(df, "mv_avg"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(res("east") == 150.0 && res("west") == 400.0)
  }

  test("predicate compensation: extra query predicate becomes a filter") {
    sql("""CREATE MATERIALIZED VIEW mv_pred AS
          |SELECT region, product, sum(amount) AS s
          |FROM sales GROUP BY region, product""".stripMargin)
    val df = sql("""SELECT region, sum(amount) AS s FROM sales
                   |WHERE region = 'west' GROUP BY region""".stripMargin)
    // conservative: predicate over a group column of the MV
    if (usesBacking(df, "mv_pred")) {
      val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(res == Seq(("west", 1200L)))
    }
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("west", 1200L)))
  }

  test("negative: MV more restrictive than query must not fire") {
    sql("""CREATE MATERIALIZED VIEW mv_narrow AS
          |SELECT region, sum(amount) AS s FROM sales
          |WHERE region = 'east' GROUP BY region""".stripMargin)
    val df = sql("SELECT region, sum(amount) AS s FROM sales GROUP BY region")
    assert(!usesBacking(df, "mv_narrow"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 2)
  }

  test("negative: different base table must not fire") {
    sql("CREATE MATERIALIZED VIEW mv_other AS SELECT region, count(*) AS c FROM regions GROUP BY region")
    val df = sql("SELECT region, count(*) AS c FROM sales GROUP BY region")
    assert(!usesBacking(df, "mv_other"))
  }

  test("negative: query needs column the MV lacks") {
    sql("CREATE MATERIALIZED VIEW mv_cols AS SELECT region, sum(amount) AS s FROM sales GROUP BY region")
    val df = sql("SELECT region, sum(qty) AS q FROM sales GROUP BY region")
    assert(!usesBacking(df, "mv_cols"))
    assert(df.collect().map(_.getLong(1)).sum == 15)
  }

  test("negative: query predicate on base column shadowed by same-named MV aggregate") {
    // MV projects sum(amount) under the NAME amount; a query filter on
    // the base column amount must NOT bind to that aggregate output
    // (ADVICE round 1: name-based fallback produced wrong results)
    sql("""CREATE MATERIALIZED VIEW mv_shadow AS
          |SELECT region, sum(amount) AS amount
          |FROM sales GROUP BY region""".stripMargin)
    val df = sql("""SELECT region, sum(amount) AS amount FROM sales
                   |WHERE amount > 150 GROUP BY region""".stripMargin)
    assert(!usesBacking(df, "mv_shadow"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("east" -> 200L, "west" -> 1200L))
  }

  test("negative: query groups by a column outside the MV grouping") {
    sql("""CREATE MATERIALIZED VIEW mv_reg AS
          |SELECT region, sum(amount) AS s FROM sales GROUP BY region""".stripMargin)
    val df = sql("SELECT product, sum(amount) AS s FROM sales GROUP BY product")
    assert(!usesBacking(df, "mv_reg"))
    assert(df.count() == 3)
  }

  test("negative: AVG cannot derive without a COUNT in the MV") {
    sql("""CREATE MATERIALIZED VIEW mv_sum_only AS
          |SELECT region, product, sum(amount) AS s
          |FROM sales GROUP BY region, product""".stripMargin)
    val df = sql("SELECT region, avg(amount) AS a FROM sales GROUP BY region")
    assert(!usesBacking(df, "mv_sum_only"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(res("east") == 150.0 && res("west") == 400.0)
  }

  test("negative: count distinct does not roll up") {
    sql("""CREATE MATERIALIZED VIEW mv_cd AS
          |SELECT region, product, count(*) AS c
          |FROM sales GROUP BY region, product""".stripMargin)
    val df = sql("SELECT region, count(DISTINCT product) AS c FROM sales GROUP BY region")
    assert(!usesBacking(df, "mv_cd"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("east" -> 2L, "west" -> 3L))
  }

  test("negative: disjoint MV and query predicates must not fire") {
    sql("""CREATE MATERIALIZED VIEW mv_east AS
          |SELECT region, product, sum(amount) AS s FROM sales
          |WHERE region = 'east' GROUP BY region, product""".stripMargin)
    val df = sql("""SELECT region, sum(amount) AS s FROM sales
                   |WHERE region = 'west' GROUP BY region""".stripMargin)
    assert(!usesBacking(df, "mv_east"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("west", 1200L)))
  }

  test("negative: aggregate over a different expression must not fire") {
    sql("""CREATE MATERIALIZED VIEW mv_expr AS
          |SELECT region, product, sum(amount) AS s
          |FROM sales GROUP BY region, product""".stripMargin)
    val df = sql("SELECT region, sum(amount * 2) AS s FROM sales GROUP BY region")
    assert(!usesBacking(df, "mv_expr"))
    val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("east" -> 600L, "west" -> 2400L))
  }

  test("negative: different join condition must not fire") {
    sql("""CREATE MATERIALIZED VIEW mv_jc AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("""SELECT s.region AS region, s.amount AS amount, r.country AS country
                   |FROM sales s JOIN regions r ON s.product = r.region""".stripMargin)
    assert(!usesBacking(df, "mv_jc"))
    assert(df.count() == 0)
  }

  test("negative: outer join does not match an inner-join MV") {
    sql("""CREATE MATERIALIZED VIEW mv_inner AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("""SELECT s.region AS region, s.amount AS amount, r.country AS country
                   |FROM sales s LEFT JOIN regions r ON s.region = r.region""".stripMargin)
    assert(!usesBacking(df, "mv_inner"))
    assert(df.count() == 5)
  }

  test("join rewrite: same join tree projects from backing") {
    sql("""CREATE MATERIALIZED VIEW mv_join AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("""SELECT s.region AS region, s.amount AS amount, r.country AS country
                   |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    assert(usesBacking(df, "mv_join"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 5)
  }

  test("join + aggregate roll-up") {
    sql("""CREATE MATERIALIZED VIEW mv_ja AS
          |SELECT r.country AS country, s.region AS region, sum(s.amount) AS s
          |FROM sales s JOIN regions r ON s.region = r.region
          |GROUP BY r.country, s.region""".stripMargin)
    val df = sql("""SELECT r.country AS country, sum(s.amount) AS s
                   |FROM sales s JOIN regions r ON s.region = r.region
                   |GROUP BY r.country""".stripMargin)
    assert(usesBacking(df, "mv_ja"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("us" -> 1500L))
  }

  // ── lifecycle depth (reference MaterializedViewSuite:82-380) ──────

  test("create: backing table holds the defining query's data") {
    sql("CREATE MATERIALIZED VIEW mv_data AS SELECT region, sum(amount) AS total FROM sales GROUP BY region")
    val rows = sql(s"SELECT * FROM ${MvCommands.backingName("mv_data")} ORDER BY region")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("east", 300L), ("west", 1200L)))
  }

  test("create: backing table preserves schema") {
    sql("CREATE MATERIALIZED VIEW mv_schema AS SELECT region, sum(amount) AS total FROM sales GROUP BY region")
    val schema = sql(s"SELECT * FROM ${MvCommands.backingName("mv_schema")}").schema
    assert(schema.fieldNames.toSeq == Seq("region", "total"))
    assert(schema("total").dataType.typeName == "long")
  }

  test("create: duplicate name fails; IF NOT EXISTS is silent") {
    sql("CREATE MATERIALIZED VIEW mv_dup AS SELECT region FROM sales")
    intercept[Exception] {
      sql("CREATE MATERIALIZED VIEW mv_dup AS SELECT product FROM sales")
    }
    sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mv_dup AS SELECT product FROM sales")
    // the original definition survives
    assert(MvCatalog.get("mv_dup").get.query.contains("region"))
  }

  test("create: records query text, storage format, timestamps") {
    sql("CREATE MATERIALIZED VIEW mv_meta AS SELECT region, sum(amount) AS s FROM sales GROUP BY region")
    val m = MvCatalog.get("mv_meta").get
    assert(m.query.toLowerCase.contains("group by region"))
    assert(m.storageFormat == "parquet")
    assert(m.createdTs > 0 && m.lastRefreshTs >= m.createdTs)
    assert(m.rowCount == 2)
  }

  test("drop: removes both catalog entry and backing table") {
    sql("CREATE MATERIALIZED VIEW mv_gone AS SELECT region FROM sales")
    val backing = MvCommands.backingName("mv_gone")
    assert(spark.catalog.tableExists(backing))
    sql("DROP MATERIALIZED VIEW mv_gone")
    assert(MvCatalog.get("mv_gone").isEmpty)
    assert(!spark.catalog.tableExists(backing))
  }

  test("drop: non-existent MV fails; IF EXISTS is silent") {
    intercept[Exception] { sql("DROP MATERIALIZED VIEW mv_missing") }
    sql("DROP MATERIALIZED VIEW IF EXISTS mv_missing")
  }

  test("refresh: recomputes data and advances lastRefreshTs") {
    sql("CREATE TABLE sales_rf USING parquet AS SELECT * FROM sales")
    sql("CREATE MATERIALIZED VIEW mv_rf AS SELECT region, sum(amount) AS s FROM sales_rf GROUP BY region")
    val before = MvCatalog.get("mv_rf").get
    sql("INSERT INTO sales_rf VALUES ('north','z',50,1)")
    sql("REFRESH MATERIALIZED VIEW mv_rf")
    val after = MvCatalog.get("mv_rf").get
    assert(after.rowCount == 3 && after.lastRefreshTs >= before.lastRefreshTs)
    val rows = sql(s"SELECT * FROM ${MvCommands.backingName("mv_rf")}").count()
    assert(rows == 3)
    sql("DROP TABLE sales_rf")
  }

  test("refresh: non-existent MV fails") {
    intercept[Exception] { sql("REFRESH MATERIALIZED VIEW mv_missing") }
  }

  test("refresh incremental: recomputes data and advances lastRefreshTs") {
    sql("CREATE TABLE sales_inc USING parquet AS SELECT * FROM sales")
    sql("CREATE MATERIALIZED VIEW mv_inc AS SELECT region, sum(amount) AS s FROM sales_inc GROUP BY region")
    val before = MvCatalog.get("mv_inc").get
    sql("INSERT INTO sales_inc VALUES ('north','z',50,1)")
    sql("REFRESH MATERIALIZED VIEW mv_inc INCREMENTAL")
    val after = MvCatalog.get("mv_inc").get
    assert(after.rowCount == 3 && after.lastRefreshTs >= before.lastRefreshTs)
    sql("DROP TABLE sales_inc")
  }

  test("refresh incremental: non-existent MV fails") {
    intercept[Exception] { sql("REFRESH MATERIALIZED VIEW mv_missing INCREMENTAL") }
  }

  test("refresh incremental: two-base join MV merges delta joins") {
    sql("CREATE TABLE lake.db.jfact (k string, amt bigint) USING lake")
    sql("CREATE TABLE lake.db.jdim (k string, grp string) USING lake")
    sql("INSERT INTO lake.db.jfact VALUES ('a', 1), ('b', 2)")
    sql("INSERT INTO lake.db.jdim VALUES ('a', 'g1'), ('b', 'g2')")
    sql("""CREATE MATERIALIZED VIEW mv_join AS
          |SELECT d.grp, sum(f.amt) AS s, count(*) AS c
          |FROM lake.db.jfact f JOIN lake.db.jdim d ON f.k = d.k
          |GROUP BY d.grp""".stripMargin)
    // appends on BOTH sides in one range, including a fact row whose
    // dim key also arrives in the range — the ΔA⋈ΔB cross term must
    // land exactly once (in ΔA ⋈ B_head, not again in A_old ⋈ ΔB)
    sql("INSERT INTO lake.db.jfact VALUES ('a', 10), ('c', 5)")
    sql("INSERT INTO lake.db.jdim VALUES ('c', 'g1')")
    sql("REFRESH MATERIALIZED VIEW mv_join INCREMENTAL")
    assert(MvCatalog.get("mv_join").get.lastRefreshMode == "incremental",
      "append-only two-base join must refresh via delta joins")
    val backing = MvCommands.backingName("mv_join")
    val rows = sql(s"SELECT grp, s, c FROM $backing ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("g1", 16L, 3L), ("g2", 2L, 1L)),
      s"delta-join merge must equal a recompute: ${rows.toSeq}")
    // this MV's sum(amt) has a nullable input and no paired
    // count(amt) guard, so a delete in range cannot retract safely:
    // full fallback, and the emptied group disappears like a recompute
    sql("DELETE FROM lake.db.jfact WHERE k = 'b'")
    sql("REFRESH MATERIALIZED VIEW mv_join INCREMENTAL")
    assert(MvCatalog.get("mv_join").get.lastRefreshMode == "full")
    val rows2 = sql(s"SELECT grp, s, c FROM $backing ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows2.toSeq == Seq(("g1", 16L, 3L)), rows2.toSeq)
    sql("DROP MATERIALIZED VIEW mv_join")
    sql("DROP TABLE lake.db.jfact"); sql("DROP TABLE lake.db.jdim")
  }

  test("refresh incremental: join MV RETRACTS deletes via signed changelog terms") {
    sql("CREATE TABLE lake.db.rjf (k string, amt bigint) USING lake")
    sql("CREATE TABLE lake.db.rjd (k string, grp string) USING lake")
    sql("INSERT INTO lake.db.rjf VALUES ('a', 1), ('b', 2), ('b', 3)")
    sql("INSERT INTO lake.db.rjd VALUES ('a', 'g1'), ('b', 'g2')")
    // count(amt) guards the nullable sum; count(*) is the liveness
    sql("""CREATE MATERIALIZED VIEW mv_rjoin AS
          |SELECT d.grp, sum(f.amt) AS s, count(f.amt) AS cv,
          |       count(*) AS c
          |FROM lake.db.rjf f JOIN lake.db.rjd d ON f.k = d.k
          |GROUP BY d.grp""".stripMargin)
    // a delete on the fact side AND an append on the dim side in one
    // range: the signed fact delta must retract (b,2) from g2 while
    // the dim delta contributes nothing (no fact rows for 'c' yet)
    sql("DELETE FROM lake.db.rjf WHERE amt = 2")
    sql("INSERT INTO lake.db.rjd VALUES ('c', 'g1')")
    sql("REFRESH MATERIALIZED VIEW mv_rjoin INCREMENTAL")
    assert(MvCatalog.get("mv_rjoin").get.lastRefreshMode == "incremental",
      "guarded SUM/COUNT join MV must retract deletes incrementally")
    val backing = MvCommands.backingName("mv_rjoin")
    val rows = sql(s"SELECT grp, s, cv, c FROM $backing ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.toSeq == Seq(("g1", 1L, 1L, 1L), ("g2", 3L, 1L, 1L)),
      s"signed merge must equal a recompute: ${rows.toSeq}")
    // retract g2 entirely: net count 0 drops the group
    sql("DELETE FROM lake.db.rjf WHERE k = 'b'")
    sql("REFRESH MATERIALIZED VIEW mv_rjoin INCREMENTAL")
    assert(MvCatalog.get("mv_rjoin").get.lastRefreshMode == "incremental")
    val rows2 = sql(s"SELECT grp, s FROM $backing ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows2.toSeq == Seq(("g1", 1L)),
      s"an emptied group must drop like a recompute: ${rows2.toSeq}")
    sql("DROP MATERIALIZED VIEW mv_rjoin")
    sql("DROP TABLE lake.db.rjf"); sql("DROP TABLE lake.db.rjd")
  }

  test("refresh incremental: THREE-base join MV telescopes every term") {
    sql("CREATE TABLE lake.db.t3f (k string, amt bigint) USING lake")
    sql("CREATE TABLE lake.db.t3d (k string, g string) USING lake")
    sql("CREATE TABLE lake.db.t3g (g string, region string) USING lake")
    sql("INSERT INTO lake.db.t3f VALUES ('a', 1)")
    sql("INSERT INTO lake.db.t3d VALUES ('a', 'g1')")
    sql("INSERT INTO lake.db.t3g VALUES ('g1', 'east')")
    sql("""CREATE MATERIALIZED VIEW mv_j3 AS
          |SELECT r.region, sum(f.amt) AS s, count(*) AS c
          |FROM lake.db.t3f f
          |JOIN lake.db.t3d d ON f.k = d.k
          |JOIN lake.db.t3g r ON d.g = r.g
          |GROUP BY r.region""".stripMargin)
    // append to ALL THREE in one range: a fresh fact key whose dim AND
    // region mapping both arrive in-range (the triple-delta product),
    // plus growth under the existing chain
    sql("INSERT INTO lake.db.t3f VALUES ('a', 10), ('b', 100)")
    sql("INSERT INTO lake.db.t3d VALUES ('b', 'g2')")
    sql("INSERT INTO lake.db.t3g VALUES ('g2', 'west')")
    sql("REFRESH MATERIALIZED VIEW mv_j3 INCREMENTAL")
    assert(MvCatalog.get("mv_j3").get.lastRefreshMode == "incremental")
    val rows = sql(s"SELECT region, s, c FROM ${MvCommands.backingName("mv_j3")}" +
        " ORDER BY region")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("east", 11L, 2L), ("west", 100L, 1L)),
      s"3-base telescoping must equal a recompute: ${rows.toSeq}")
    sql("DROP MATERIALIZED VIEW mv_j3")
    Seq("t3f", "t3d", "t3g").foreach(t => sql(s"DROP TABLE lake.db.$t"))
  }

  test("refresh incremental: projection-over-join MV appends delta rows") {
    sql("CREATE TABLE lake.db.pjf (k string, amt bigint) USING lake")
    sql("CREATE TABLE lake.db.pjd (k string, grp string) USING lake")
    sql("INSERT INTO lake.db.pjf VALUES ('a', 1)")
    sql("INSERT INTO lake.db.pjd VALUES ('a', 'g1')")
    sql("""CREATE MATERIALIZED VIEW mv_pjoin AS
          |SELECT f.k AS k, d.grp AS grp, f.amt AS amt
          |FROM lake.db.pjf f JOIN lake.db.pjd d ON f.k = d.k""".stripMargin)
    sql("INSERT INTO lake.db.pjf VALUES ('a', 7)")
    sql("REFRESH MATERIALIZED VIEW mv_pjoin INCREMENTAL")
    assert(MvCatalog.get("mv_pjoin").get.lastRefreshMode == "incremental")
    val rows = sql(s"SELECT k, grp, amt FROM ${MvCommands.backingName("mv_pjoin")}" +
        " ORDER BY amt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a", "g1", 1L), ("a", "g1", 7L)), rows.toSeq)
    sql("DROP MATERIALIZED VIEW mv_pjoin")
    sql("DROP TABLE lake.db.pjf"); sql("DROP TABLE lake.db.pjd")
  }

  test("continuous maintenance: join MV maintained by both bases' streams") {
    sql("CREATE TABLE lake.db.cjf (k string, amt bigint) USING lake")
    sql("CREATE TABLE lake.db.cjd (k string, grp string) USING lake")
    sql("INSERT INTO lake.db.cjf VALUES ('a', 1)")
    sql("INSERT INTO lake.db.cjd VALUES ('a', 'g1')")
    sql("""CREATE MATERIALIZED VIEW cjmv AS
          |SELECT d.grp, sum(f.amt) AS s, count(f.amt) AS cv,
          |       count(*) AS c
          |FROM lake.db.cjf f JOIN lake.db.cjd d ON f.k = d.k
          |GROUP BY d.grp""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("cjmv_ckpt").toString
    val qs = MvMaintenance.continuousAll(spark, "cjmv",
      Seq("lake.db.cjf", "lake.db.cjd"), ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      // a dim-side-only commit must also drive the refresh (the
      // fact-side stream sees nothing)
      sql("INSERT INTO lake.db.cjd VALUES ('b', 'g2')")
      sql("INSERT INTO lake.db.cjf VALUES ('b', 10)")
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.processAllAvailable()) // drain cross-triggered refreshes
      val rows = sql(s"SELECT grp, s FROM ${MvCommands.backingName("cjmv")}" +
          " ORDER BY grp")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("g1", 1L), ("g2", 10L)),
        s"both bases' streams must maintain the join MV: ${rows.toSeq}")
      assert(MvCatalog.get("cjmv").get.lastRefreshMode == "incremental")
    } finally qs.foreach(_.stop())
    sql("DROP TABLE lake.db.cjf"); sql("DROP TABLE lake.db.cjd")
  }

  test("continuous maintenance: CDC stream drives incremental refresh") {
    sql("CREATE TABLE lake.db.cmv_base (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.cmv_base VALUES ('a', 1), ('b', 2)")
    sql("""CREATE MATERIALIZED VIEW cmv AS
          |SELECT k, sum(v) AS s, count(*) AS c
          |FROM lake.db.cmv_base GROUP BY k""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("cmv_ckpt").toString
    val backing = MvCommands.backingName("cmv")
    val q = MvMaintenance.continuous(spark, "cmv", "lake.db.cmv_base", ckpt)
    try {
      q.processAllAvailable()
      sql("INSERT INTO lake.db.cmv_base VALUES ('a', 10), ('c', 7)")
      q.processAllAvailable()
      val rows = sql(s"SELECT k, s, c FROM $backing ORDER BY k")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq(("a", 11L, 2L), ("b", 2L, 1L), ("c", 7L, 1L)),
        s"append batch must merge into the MV: ${rows.toSeq}")
      assert(MvCatalog.get("cmv").get.lastRefreshMode == "incremental",
        "an append-only batch must refresh via the delta path")
      // a retraction batch (CoW delete) maintains through the signed
      // changelog replay — still driven by the same stream
      sql("DELETE FROM lake.db.cmv_base WHERE k = 'b'")
      q.processAllAvailable()
      val afterDel = sql(s"SELECT k, s FROM $backing ORDER BY k")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(afterDel.toSeq == Seq(("a", 11L), ("c", 7L)),
        s"delete must retract the group: ${afterDel.toSeq}")
    } finally q.stop()
    sql("DROP TABLE lake.db.cmv_base")
  }

  test("show: empty when none registered") {
    assert(sql("SHOW MATERIALIZED VIEWS").count() == 0)
  }

  test("show: schema carries storage metadata columns") {
    val cols = sql("SHOW MATERIALIZED VIEWS").schema.fieldNames.toSeq
    assert(cols == Seq("name", "query", "backing_table", "created_at",
      "last_refreshed_at", "storage_format", "row_count", "size_in_bytes"))
  }

  test("show: lists registered MVs with format and row count") {
    sql("CREATE MATERIALIZED VIEW mv_showa AS SELECT region FROM sales")
    sql("CREATE MATERIALIZED VIEW mv_showb AS SELECT product FROM sales")
    val shown = sql("SHOW MATERIALIZED VIEWS").collect()
    assert(shown.map(_.getString(0)).toSeq == Seq("mv_showa", "mv_showb"))
    assert(shown.forall(_.getString(5) == "parquet"))
    assert(shown.forall(_.getLong(6) == 5))
  }

  test("MV name lookup is case-insensitive") {
    sql("CREATE MATERIALIZED VIEW mv_Case AS SELECT region FROM sales")
    assert(MvCatalog.get("MV_CASE").isDefined)
    sql("REFRESH MATERIALIZED VIEW MV_case")
    sql("DROP MATERIALIZED VIEW mv_CASE")
    assert(MvCatalog.get("mv_case").isEmpty)
  }

  test("CREATE MATERIALIZED VIEW without AS clause fails") {
    intercept[Exception] { sql("CREATE MATERIALIZED VIEW mv_noas") }
  }

  // ── lifecycle variants 1:1 with the reference suite's granularity
  //    (MaterializedViewSuite: one assertion axis per case) ──────────

  test("create: sets lastRefreshTs within the create window") {
    val before = System.currentTimeMillis()
    sql("CREATE MATERIALIZED VIEW mv_ts AS SELECT region FROM sales")
    val after = System.currentTimeMillis()
    val ts = MvCatalog.get("mv_ts").get.lastRefreshTs
    assert(ts >= before && ts <= after, s"lastRefreshTs $ts not in [$before, $after]")
  }

  test("create: records row count") {
    sql("CREATE MATERIALIZED VIEW mv_rowcount AS SELECT region, product FROM sales")
    assert(MvCatalog.get("mv_rowcount").get.rowCount == 5)
  }

  test("refresh: updates data values in the backing table") {
    sql("CREATE TABLE sales_rfd USING parquet AS SELECT * FROM sales")
    sql("""CREATE MATERIALIZED VIEW mv_rfd AS
          |SELECT region, product FROM sales_rfd WHERE amount >= 300""".stripMargin)
    assert(sql(s"SELECT * FROM ${MvCommands.backingName("mv_rfd")}").count() == 3)
    sql("INSERT INTO sales_rfd VALUES ('north','z',900,1)")
    sql("REFRESH MATERIALIZED VIEW mv_rfd")
    val rows = sql(s"SELECT region FROM ${MvCommands.backingName("mv_rfd")}")
      .collect().map(_.getString(0)).toSet
    assert(rows == Set("west", "north"))
    sql("DROP TABLE sales_rfd")
  }

  test("refresh: strictly advances lastRefreshTs") {
    sql("CREATE MATERIALIZED VIEW mv_rts AS SELECT region FROM sales")
    val ts1 = MvCatalog.get("mv_rts").get.lastRefreshTs
    Thread.sleep(10)
    sql("REFRESH MATERIALIZED VIEW mv_rts")
    val ts2 = MvCatalog.get("mv_rts").get.lastRefreshTs
    assert(ts2 > ts1)
  }

  test("refresh: updates row count in storage metadata") {
    sql("CREATE TABLE sales_rrc USING parquet AS SELECT * FROM sales")
    sql("""CREATE MATERIALIZED VIEW mv_rrc AS
          |SELECT region FROM sales_rrc WHERE amount >= 300""".stripMargin)
    val initial = MvCatalog.get("mv_rrc").get.rowCount
    sql("INSERT INTO sales_rrc VALUES ('north','z',999,1)")
    sql("REFRESH MATERIALIZED VIEW mv_rrc")
    val updated = MvCatalog.get("mv_rrc").get.rowCount
    assert(updated > initial, s"row count must grow: $initial -> $updated")
    sql("DROP TABLE sales_rrc")
  }

  test("refresh incremental: updates data values in the backing table") {
    sql("CREATE TABLE sales_incd USING parquet AS SELECT * FROM sales")
    sql("""CREATE MATERIALIZED VIEW mv_incd AS
          |SELECT region, amount FROM sales_incd WHERE amount >= 300""".stripMargin)
    sql("INSERT INTO sales_incd VALUES ('south','y',800,2)")
    sql("REFRESH MATERIALIZED VIEW mv_incd INCREMENTAL")
    val regions = sql(s"SELECT region FROM ${MvCommands.backingName("mv_incd")}")
      .collect().map(_.getString(0)).toSet
    assert(regions.contains("south"))
    sql("DROP TABLE sales_incd")
  }

  test("refresh incremental: strictly advances lastRefreshTs") {
    sql("CREATE MATERIALIZED VIEW mv_irts AS SELECT region FROM sales")
    val ts1 = MvCatalog.get("mv_irts").get.lastRefreshTs
    Thread.sleep(10)
    sql("REFRESH MATERIALIZED VIEW mv_irts INCREMENTAL")
    val ts2 = MvCatalog.get("mv_irts").get.lastRefreshTs
    assert(ts2 > ts1)
  }

  test("show: one MV row carries format and row count at the documented positions") {
    sql("CREATE MATERIALIZED VIEW mv_showpos AS SELECT region FROM sales")
    val rows = sql("SHOW MATERIALIZED VIEWS").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(5) == "parquet") // storage_format
    assert(rows(0).getLong(6) == 5L)          // row_count
  }

  test("optimized query returns the same results as the base query") {
    sql("""CREATE MATERIALIZED VIEW mv_equiv AS
          |SELECT region, sum(amount) AS total FROM sales GROUP BY region""".stripMargin)
    val q = "SELECT region, sum(amount) AS total FROM sales GROUP BY region"
    val rewritten = sql(q)
    assert(usesBacking(rewritten, "mv_equiv"), "rewrite must fire")
    val got = rewritten.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    sql("DROP MATERIALIZED VIEW mv_equiv")
    val base = sql(q).collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(got == base, s"rewritten $got != base $base")
  }

  // ── aggregate rewrite depth (reference AggregateRewriteSuite) ─────

  test("column subset: query selects fewer aggregates than the MV") {
    sql("""CREATE MATERIALIZED VIEW mv_full AS
          |SELECT region, sum(amount) AS total, count(amount) AS cnt,
          |       min(amount) AS mn, max(amount) AS mx
          |FROM sales GROUP BY region""".stripMargin)
    val df = sql("SELECT region, sum(amount) AS total FROM sales GROUP BY region")
    assert(usesBacking(df, "mv_full"), df.queryExecution.optimizedPlan.toString)
    val res = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("east" -> 300L, "west" -> 1200L))
  }

  test("exact match rewrite still works for non-aggregate MVs") {
    sql("CREATE MATERIALIZED VIEW mv_proj AS SELECT region, amount FROM sales")
    val df = sql("SELECT region, amount FROM sales")
    assert(usesBacking(df, "mv_proj"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 5)
  }

  // ── join rewrite depth (reference JoinRewriteSuite) ───────────────

  test("join predicate compensation: extra WHERE applies over the join MV") {
    sql("""CREATE MATERIALIZED VIEW mv_jp AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("""SELECT s.region AS region, s.amount AS amount, r.country AS country
                   |FROM sales s JOIN regions r ON s.region = r.region
                   |WHERE s.region = 'east'""".stripMargin)
    assert(usesBacking(df, "mv_jp"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 2)
    assert(df.collect().forall(_.getString(0) == "east"))
  }

  test("join column subset: query projects fewer columns than the join MV") {
    sql("""CREATE MATERIALIZED VIEW mv_jsub AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("""SELECT s.region AS region, r.country AS country
                   |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    assert(usesBacking(df, "mv_jsub"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 5)
  }

  test("negative: non-join query does not match a join MV") {
    sql("""CREATE MATERIALIZED VIEW mv_jonly AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("SELECT region, amount FROM sales")
    assert(!usesBacking(df, "mv_jonly"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 5)
  }

  test("negative: join MV with restrictive WHERE must not serve a wider join") {
    sql("""CREATE MATERIALIZED VIEW mv_jnarrow AS
          |SELECT s.region AS region, s.amount AS amount, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region
          |WHERE s.region = 'east'""".stripMargin)
    val df = sql("""SELECT s.region AS region, s.amount AS amount, r.country AS country
                   |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    assert(!usesBacking(df, "mv_jnarrow"), df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 5)
  }

  test("negative: join over different tables must not fire") {
    sql("CREATE TABLE regions2 (region string, country string) USING parquet")
    sql("INSERT INTO regions2 VALUES ('east','ca')")
    sql("""CREATE MATERIALIZED VIEW mv_jtables AS
          |SELECT s.region AS region, r.country AS country
          |FROM sales s JOIN regions r ON s.region = r.region""".stripMargin)
    val df = sql("""SELECT s.region AS region, r.country AS country
                   |FROM sales s JOIN regions2 r ON s.region = r.region""".stripMargin)
    assert(!usesBacking(df, "mv_jtables"), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().forall(_.getString(1) == "ca"))
    sql("DROP TABLE regions2")
  }

  test("rewrite stays off during refresh and on backing-table queries") {
    sql("CREATE MATERIALIZED VIEW mv_self AS SELECT region, sum(amount) AS s FROM sales GROUP BY region")
    // direct query on the backing table must not recurse
    val backing = MvCommands.backingName("mv_self")
    assert(sql(s"SELECT * FROM $backing").count() == 2)
    sql("REFRESH MATERIALIZED VIEW mv_self")
    assert(sql(s"SELECT * FROM $backing").count() == 2)
  }

  // ----------------------------------------------------------------
  // incremental refresh (beyond the reference: the reference's
  // REFRESH ... INCREMENTAL always recomputes in full)
  // ----------------------------------------------------------------

  private def refreshMode(mv: String): String =
    MvCatalog.get(mv).get.lastRefreshMode

  test("incremental refresh: append-only delta merges SUM/COUNT/MIN/MAX") {
    sql("CREATE TABLE lake.db.inc1 (region string, amount bigint) USING lake")
    sql("INSERT INTO lake.db.inc1 VALUES ('east',100),('west',300)")
    sql("""CREATE MATERIALIZED VIEW mv_i1 AS
          |SELECT region, sum(amount) AS s, count(*) AS c,
          |       min(amount) AS mn, max(amount) AS mx
          |FROM lake.db.inc1 GROUP BY region""".stripMargin)
    sql("INSERT INTO lake.db.inc1 VALUES ('east',50),('north',10)")
    sql("REFRESH MATERIALIZED VIEW mv_i1 INCREMENTAL")
    assert(refreshMode("mv_i1") == "incremental")
    val res = spark.table(MvCommands.backingName("mv_i1")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(res == Map(
      "east" -> (150L, 2L, 50L, 100L),
      "west" -> (300L, 1L, 300L, 300L),
      "north" -> (10L, 1L, 10L, 10L)))
    // and the rewrite serves the refreshed numbers
    val df = sql("SELECT region, sum(amount) AS s FROM lake.db.inc1 GROUP BY region")
    assert(usesBacking(df, "mv_i1"), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("east" -> 150L, "west" -> 300L, "north" -> 10L))
    sql("DROP TABLE lake.db.inc1")
  }

  test("incremental refresh plans only the delta's files, not the base") {
    sql("CREATE TABLE lake.db.inc10 (k string, v bigint) USING lake")
    // 6 append commits = at least 6 data files in the base
    for (i <- 0 until 6)
      sql(s"INSERT INTO lake.db.inc10 VALUES ('k$i', $i)")
    sql("CREATE MATERIALIZED VIEW mv_i10 AS SELECT k, sum(v) AS s FROM lake.db.inc10 GROUP BY k")
    sql("INSERT INTO lake.db.inc10 VALUES ('k9', 9)")
    graft.lake.LakeScanBuilder.lastPlannedFileCount.set(-1)
    sql("REFRESH MATERIALIZED VIEW mv_i10 INCREMENTAL")
    assert(refreshMode("mv_i10") == "incremental")
    // the refresh's ONLY lake scan is the incremental delta read — the
    // O(delta) claim, observable: it must plan the one appended file,
    // not the table's seven
    val planned = graft.lake.LakeScanBuilder.lastPlannedFileCount.get()
    assert(planned >= 0 && planned <= 1,
      s"incremental refresh planned $planned files; expected the 1-file delta")
    assert(spark.table(MvCommands.backingName("mv_i10")).count() == 7)
    sql("DROP TABLE lake.db.inc10")
  }

  test("incremental refresh: unchanged base is a freshness-only no-op") {
    sql("CREATE TABLE lake.db.inc2 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.inc2 VALUES ('a',1)")
    sql("CREATE MATERIALIZED VIEW mv_i2 AS SELECT k, sum(v) AS s FROM lake.db.inc2 GROUP BY k")
    val before = MvCatalog.get("mv_i2").get
    sql("REFRESH MATERIALIZED VIEW mv_i2 INCREMENTAL")
    val after = MvCatalog.get("mv_i2").get
    assert(after.lastRefreshMode == "incremental")
    assert(after.baseSnapshots == before.baseSnapshots)
    assert(spark.table(MvCommands.backingName("mv_i2")).count() == 1)
    sql("DROP TABLE lake.db.inc2")
  }

  test("incremental refresh: delete in range falls back to full, stays exact") {
    sql("CREATE TABLE lake.db.inc3 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.inc3 VALUES ('a',1),('b',2)")
    sql("CREATE MATERIALIZED VIEW mv_i3 AS SELECT k, sum(v) AS s FROM lake.db.inc3 GROUP BY k")
    sql("DELETE FROM lake.db.inc3 WHERE k = 'a'")
    sql("INSERT INTO lake.db.inc3 VALUES ('b',5)")
    sql("REFRESH MATERIALIZED VIEW mv_i3 INCREMENTAL")
    assert(refreshMode("mv_i3") == "full")
    val res = spark.table(MvCommands.backingName("mv_i3")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("b" -> 7L))
    // the NEXT incremental refresh starts from the post-full floor and
    // can merge appends again
    sql("INSERT INTO lake.db.inc3 VALUES ('c',9)")
    sql("REFRESH MATERIALIZED VIEW mv_i3 INCREMENTAL")
    assert(refreshMode("mv_i3") == "incremental")
    assert(spark.table(MvCommands.backingName("mv_i3")).count() == 2)
    sql("DROP TABLE lake.db.inc3")
  }

  test("incremental refresh: AVG output cannot merge — full fallback") {
    sql("CREATE TABLE lake.db.inc4 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.inc4 VALUES ('a',1)")
    sql("CREATE MATERIALIZED VIEW mv_i4 AS SELECT k, avg(v) AS a FROM lake.db.inc4 GROUP BY k")
    sql("INSERT INTO lake.db.inc4 VALUES ('a',3)")
    sql("REFRESH MATERIALIZED VIEW mv_i4 INCREMENTAL")
    assert(refreshMode("mv_i4") == "full")
    val res = spark.table(MvCommands.backingName("mv_i4")).collect()
    assert(res.length == 1 && res(0).getDouble(1) == 2.0)
    sql("DROP TABLE lake.db.inc4")
  }

  test("incremental refresh: join MV with a non-lake side falls back to full") {
    // one lake base + one parquet base: the parquet side's changes are
    // untrackable, so even the delta-join path must refuse
    sql("CREATE TABLE lake.db.inc5 (region string, amount bigint) USING lake")
    sql("INSERT INTO lake.db.inc5 VALUES ('east',10)")
    sql("""CREATE MATERIALIZED VIEW mv_i5 AS
          |SELECT s.region AS region, r.country AS country, s.amount AS amount
          |FROM lake.db.inc5 s JOIN regions r ON s.region = r.region""".stripMargin)
    sql("INSERT INTO lake.db.inc5 VALUES ('west',20)")
    sql("REFRESH MATERIALIZED VIEW mv_i5 INCREMENTAL")
    assert(refreshMode("mv_i5") == "full")
    assert(spark.table(MvCommands.backingName("mv_i5")).count() == 2)
    sql("DROP TABLE lake.db.inc5")
  }

  test("incremental refresh: non-lake base table falls back to full") {
    sql("CREATE MATERIALIZED VIEW mv_i6 AS SELECT region, sum(amount) AS s FROM sales GROUP BY region")
    sql("REFRESH MATERIALIZED VIEW mv_i6 INCREMENTAL")
    assert(refreshMode("mv_i6") == "full")
  }

  test("incremental refresh: aggregate-free projection MV appends the delta") {
    sql("CREATE TABLE lake.db.inc7 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.inc7 VALUES ('a',1),('b',30)")
    sql("""CREATE MATERIALIZED VIEW mv_i7 AS
          |SELECT k, v FROM lake.db.inc7 WHERE v > 5""".stripMargin)
    sql("INSERT INTO lake.db.inc7 VALUES ('c',50),('d',2)")
    sql("REFRESH MATERIALIZED VIEW mv_i7 INCREMENTAL")
    assert(refreshMode("mv_i7") == "incremental")
    val res = spark.table(MvCommands.backingName("mv_i7")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(res == Set(("b", 30L), ("c", 50L)))
    sql("DROP TABLE lake.db.inc7")
  }

  test("incremental refresh: global aggregate (no GROUP BY) merges") {
    sql("CREATE TABLE lake.db.inc8 (v bigint) USING lake")
    sql("INSERT INTO lake.db.inc8 VALUES (1),(2)")
    sql("CREATE MATERIALIZED VIEW mv_i8 AS SELECT sum(v) AS s, count(*) AS c FROM lake.db.inc8")
    sql("INSERT INTO lake.db.inc8 VALUES (10)")
    sql("REFRESH MATERIALIZED VIEW mv_i8 INCREMENTAL")
    assert(refreshMode("mv_i8") == "incremental")
    val r = spark.table(MvCommands.backingName("mv_i8")).collect()(0)
    assert(r.getLong(0) == 13L && r.getLong(1) == 3L)
    sql("DROP TABLE lake.db.inc8")
  }

  test("MV rewrite must not serve historical reads of the base table") {
    sql("CREATE TABLE lake.db.tt1 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.tt1 VALUES ('a',1)")
    val snap1 = sql("SELECT snapshot_id FROM lake.db.tt1.snapshots ORDER BY snapshot_id")
      .collect()(0).getLong(0)
    sql("INSERT INTO lake.db.tt1 VALUES ('a',10),('b',5)")
    sql("CREATE MATERIALIZED VIEW mv_tt1 AS SELECT k, sum(v) AS s FROM lake.db.tt1 GROUP BY k")
    // sanity: current-state query IS rewritten
    val cur = sql("SELECT k, sum(v) AS s FROM lake.db.tt1 GROUP BY k")
    assert(usesBacking(cur, "mv_tt1"))

    // time travel must bypass the MV and see the OLD state
    val tt = sql(s"SELECT k, sum(v) AS s FROM lake.db.tt1 VERSION AS OF $snap1 GROUP BY k")
    assert(!usesBacking(tt, "mv_tt1"), tt.queryExecution.optimizedPlan.toString)
    val res = tt.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("a" -> 1L))

    // option-based pinning must bypass too
    val opt = spark.read.option("snapshot-id", snap1.toString)
      .table("lake.db.tt1").groupBy("k").sum("v")
    assert(!opt.queryExecution.optimizedPlan.toString
      .contains(MvCommands.backingName("mv_tt1")))
    assert(opt.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("a" -> 1L))

    // incremental-range reads must bypass
    val inc = spark.read.option("start-snapshot-id", snap1.toString)
      .table("lake.db.tt1")
    assert(!inc.queryExecution.optimizedPlan.toString
      .contains(MvCommands.backingName("mv_tt1")))
    assert(inc.count() == 2)
    sql("DROP TABLE lake.db.tt1")
  }

  test("MV rewrite must not serve branch reads of the base table") {
    sql("CREATE TABLE lake.db.tt2 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.tt2 VALUES ('a',1)")
    sql("ALTER TABLE lake.db.tt2 CREATE BRANCH dev")
    sql("INSERT INTO lake.db.tt2.branch_dev VALUES ('a',100)")
    sql("CREATE MATERIALIZED VIEW mv_tt2 AS SELECT k, sum(v) AS s FROM lake.db.tt2 GROUP BY k")
    val br = sql("SELECT k, sum(v) AS s FROM lake.db.tt2.branch_dev GROUP BY k")
    assert(!usesBacking(br, "mv_tt2"), br.queryExecution.optimizedPlan.toString)
    assert(br.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 101L))
    sql("DROP TABLE lake.db.tt2")
  }

  test("incremental refresh: upsert in range falls back (rows were replaced)") {
    sql("""CREATE TABLE lake.db.inc9 (k string NOT NULL, v bigint) USING lake
          |TBLPROPERTIES ('identifier-fields'='k',
          |               'write.upsert.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.inc9 VALUES ('a',1),('b',2)")
    sql("CREATE MATERIALIZED VIEW mv_i9 AS SELECT k, sum(v) AS s FROM lake.db.inc9 GROUP BY k")
    // this insert is an UPSERT commit replacing k='a' — the
    // incremental batch read accepts upserts, but the MV must NOT
    // double-count the replaced row; without a COUNT(*) liveness
    // column the signed path cannot retract, so the refresh goes full
    sql("INSERT INTO lake.db.inc9 VALUES ('a',100)")
    sql("REFRESH MATERIALIZED VIEW mv_i9 INCREMENTAL")
    assert(refreshMode("mv_i9") == "full")
    val res = spark.table(MvCommands.backingName("mv_i9")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("a" -> 100L, "b" -> 2L))
    sql("DROP TABLE lake.db.inc9")
  }

  // ---- retractable (signed changelog) incremental refresh ----

  test("retractable refresh: DELETE and UPDATE merge through the changelog") {
    sql("CREATE TABLE lake.db.ret1 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.ret1 VALUES ('a',1),('a',2),('b',10),('c',100)")
    sql("""CREATE MATERIALIZED VIEW mv_r1 AS
          |SELECT k, sum(v) AS s, count(v) AS cv, count(*) AS c
          |FROM lake.db.ret1 GROUP BY k""".stripMargin)
    sql("DELETE FROM lake.db.ret1 WHERE v = 2")       // a: 3 -> 1
    sql("UPDATE lake.db.ret1 SET v = 20 WHERE k = 'b'") // b: 10 -> 20
    sql("INSERT INTO lake.db.ret1 VALUES ('d',7)")
    sql("REFRESH MATERIALIZED VIEW mv_r1 INCREMENTAL")
    assert(refreshMode("mv_r1") == "incremental")
    val res = spark.table(MvCommands.backingName("mv_r1")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(res == Map(
      "a" -> (1L, 1L, 1L), "b" -> (20L, 1L, 1L),
      "c" -> (100L, 1L, 1L), "d" -> (7L, 1L, 1L)), res.toString)
    sql("DROP TABLE lake.db.ret1")
  }

  test("retractable refresh: a group that empties disappears") {
    sql("CREATE TABLE lake.db.ret2 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.ret2 VALUES ('a',1),('b',2)")
    sql("""CREATE MATERIALIZED VIEW mv_r2 AS
          |SELECT k, sum(v) AS s, count(v) AS cv, count(*) AS c
          |FROM lake.db.ret2 GROUP BY k""".stripMargin)
    sql("DELETE FROM lake.db.ret2 WHERE k = 'a'")
    sql("REFRESH MATERIALIZED VIEW mv_r2 INCREMENTAL")
    assert(refreshMode("mv_r2") == "incremental")
    val res = spark.table(MvCommands.backingName("mv_r2")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("b" -> 2L), s"emptied group must vanish: $res")
    sql("DROP TABLE lake.db.ret2")
  }

  test("retractable refresh: SUM nulls when surviving inputs are all null") {
    sql("CREATE TABLE lake.db.ret3 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.ret3 VALUES ('a',5),('a',NULL),('b',1)")
    sql("""CREATE MATERIALIZED VIEW mv_r3 AS
          |SELECT k, sum(v) AS s, count(v) AS cv, count(*) AS c
          |FROM lake.db.ret3 GROUP BY k""".stripMargin)
    sql("DELETE FROM lake.db.ret3 WHERE v = 5")
    sql("REFRESH MATERIALIZED VIEW mv_r3 INCREMENTAL")
    assert(refreshMode("mv_r3") == "incremental")
    val rows = spark.table(MvCommands.backingName("mv_r3"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // group 'a' survives (one NULL row), its sum must be NULL — a
    // signed merge without the count(v) guard would report 0
    assert(rows("a") == ((null, 0L, 1L)), rows.toString)
    assert(rows("b") == ((1L, 1L, 1L)))
    sql("DROP TABLE lake.db.ret3")
  }

  test("retractable refresh: nullable SUM without a matching COUNT falls back") {
    sql("CREATE TABLE lake.db.ret4 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.ret4 VALUES ('a',1),('b',2)")
    sql("""CREATE MATERIALIZED VIEW mv_r4 AS
          |SELECT k, sum(v) AS s, count(*) AS c
          |FROM lake.db.ret4 GROUP BY k""".stripMargin)
    sql("DELETE FROM lake.db.ret4 WHERE k = 'a'")
    sql("REFRESH MATERIALIZED VIEW mv_r4 INCREMENTAL")
    assert(refreshMode("mv_r4") == "full") // v is nullable, no count(v)
    assert(spark.table(MvCommands.backingName("mv_r4")).count() == 1)
    // NOT NULL input needs no guard: same shape retracts incrementally
    sql("CREATE TABLE lake.db.ret4b (k string, v bigint NOT NULL) USING lake")
    sql("INSERT INTO lake.db.ret4b VALUES ('a',1),('b',2)")
    sql("""CREATE MATERIALIZED VIEW mv_r4b AS
          |SELECT k, sum(v) AS s, count(*) AS c
          |FROM lake.db.ret4b GROUP BY k""".stripMargin)
    sql("DELETE FROM lake.db.ret4b WHERE k = 'a'")
    sql("REFRESH MATERIALIZED VIEW mv_r4b INCREMENTAL")
    assert(refreshMode("mv_r4b") == "incremental")
    assert(spark.table(MvCommands.backingName("mv_r4b")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("b" -> 2L))
    sql("DROP TABLE lake.db.ret4"); sql("DROP TABLE lake.db.ret4b")
  }

  test("retractable refresh: MIN/MAX outputs fall back (cannot retract)") {
    sql("CREATE TABLE lake.db.ret5 (k string, v bigint NOT NULL) USING lake")
    sql("INSERT INTO lake.db.ret5 VALUES ('a',1),('a',9)")
    sql("""CREATE MATERIALIZED VIEW mv_r5 AS
          |SELECT k, max(v) AS mx, count(*) AS c
          |FROM lake.db.ret5 GROUP BY k""".stripMargin)
    sql("DELETE FROM lake.db.ret5 WHERE v = 9") // the max leaves
    sql("REFRESH MATERIALIZED VIEW mv_r5 INCREMENTAL")
    assert(refreshMode("mv_r5") == "full")
    val r = spark.table(MvCommands.backingName("mv_r5")).collect()
    assert(r.length == 1 && r(0).getLong(1) == 1L)
    sql("DROP TABLE lake.db.ret5")
  }

  test("retractable refresh: global aggregate empties to the canonical row") {
    sql("CREATE TABLE lake.db.ret6 (v bigint NOT NULL) USING lake")
    sql("INSERT INTO lake.db.ret6 VALUES (1),(2)")
    sql("""CREATE MATERIALIZED VIEW mv_r6 AS
          |SELECT sum(v) AS s, count(*) AS c FROM lake.db.ret6""".stripMargin)
    sql("DELETE FROM lake.db.ret6 WHERE v >= 1")
    sql("REFRESH MATERIALIZED VIEW mv_r6 INCREMENTAL")
    assert(refreshMode("mv_r6") == "incremental")
    val r = spark.table(MvCommands.backingName("mv_r6")).collect()
    assert(r.length == 1 && r(0).isNullAt(0) && r(0).getLong(1) == 0L,
      s"global aggregate over an emptied base must be (null, 0): ${r.toSeq}")
    sql("DROP TABLE lake.db.ret6")
  }

  test("retractable refresh: equality-delete upserts retract exactly") {
    sql("""CREATE TABLE lake.db.ret7 (k string NOT NULL, v bigint NOT NULL)
          |USING lake TBLPROPERTIES ('identifier-fields'='k',
          |  'write.upsert.enabled'='true')""".stripMargin)
    sql("INSERT INTO lake.db.ret7 VALUES ('a',1),('b',2)")
    sql("""CREATE MATERIALIZED VIEW mv_r7 AS
          |SELECT k, sum(v) AS s, count(*) AS c
          |FROM lake.db.ret7 GROUP BY k""".stripMargin)
    // upsert replaces k='a': the changelog emits delete('a',1) +
    // insert('a',100); with a liveness count the signed merge applies
    // it without double-counting (contrast mv_i9, which must go full)
    sql("INSERT INTO lake.db.ret7 VALUES ('a',100),('c',3)")
    sql("REFRESH MATERIALIZED VIEW mv_r7 INCREMENTAL")
    assert(refreshMode("mv_r7") == "incremental")
    val res = spark.table(MvCommands.backingName("mv_r7")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res == Map("a" -> (100L, 1L), "b" -> (2L, 1L), "c" -> (3L, 1L)),
      res.toString)
    sql("DROP TABLE lake.db.ret7")
  }

  test("retractable refresh: an evolved base schema stays incremental") {
    sql("CREATE TABLE lake.db.ret8 (k string, v bigint) USING lake")
    sql("INSERT INTO lake.db.ret8 VALUES ('a',1),('a',2),('b',10)")
    val q = """SELECT k, sum(v) AS s, count(v) AS cv, count(*) AS c
              |FROM lake.db.ret8 GROUP BY k""".stripMargin
    sql(s"CREATE MATERIALIZED VIEW mv_r8 AS $q")
    // the DELETE rewrites a file written before the ALTER: its rows
    // replay through the changes scan's per-epoch field-id projection
    sql("ALTER TABLE lake.db.ret8 ADD COLUMN note string")
    sql("INSERT INTO lake.db.ret8 VALUES ('c',5,'new')")
    sql("DELETE FROM lake.db.ret8 WHERE v = 2")
    sql("REFRESH MATERIALIZED VIEW mv_r8 INCREMENTAL")
    assert(refreshMode("mv_r8") == "incremental")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val recompute = MvCatalog.withRewriteDisabled(rows(sql(q)))
    assert(recompute == Set(("a", 1L, 1L, 1L), ("b", 10L, 1L, 1L),
      ("c", 5L, 1L, 1L)), recompute.toString)
    assert(rows(spark.table(MvCommands.backingName("mv_r8"))) == recompute)
    sql("DROP TABLE lake.db.ret8")
  }
}
