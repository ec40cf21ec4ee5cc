package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `dml_churn`: write-heavy. Two orders-like tables partitioned by
  * `days(ts), bucket(16, id)`, one copy-on-write and one merge-on-read,
  * and a materialized view over the copy-on-write one. The measured
  * loop is a seeded mix of small INSERT, MERGE upserts, UPDATE, DELETE,
  * point reads on the head and `VERSION AS OF` reads of recent commits;
  * once per op cycle ([[DmlGen.Cycle]]) a maintenance pass compacts,
  * folds delete files, expires snapshots and refreshes the view
  * incrementally, and the view's aggregate is read back. Every
  * statement pays the commit path, history and delete masks grow during
  * the run, and the head-only reads stay inside the metadata and
  * manifest caches. */
final class DmlChurn(spark: SparkSession, seed: Long) extends Workload {
  private var gen: DmlGen = _
  private var ns = ""
  private def table(t: Int) = s"lk.$ns.${DmlChurn.Tables(t)}"
  private def parts(t: Int) = Seq("lk", ns, DmlChurn.Tables(t))
  private def mv = s"mv_dml_$ns"

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("cust", IntegerType), StructField("status", StringType),
    StructField("amount", LongType), StructField("ts", TimestampType)))

  def setup(rep: Int): Unit = {
    ns = s"dml$rep"
    gen = new DmlGen(seed)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS lk.$ns")
    for (t <- 0 to 1) {
      val mor = if (t == 1) " TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')" else ""
      spark.sql(s"CREATE TABLE ${table(t)} (id BIGINT, cust INT, status STRING, " +
        s"amount BIGINT, ts TIMESTAMP) USING lake PARTITIONED BY (days(ts), bucket(16, id))$mor")
      spark.createDataFrame(java.util.Arrays.asList(gen.initial(t).map(toRow): _*), schema)
        .writeTo(table(t)).append()
    }
    spark.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT status, count(*) AS n, " +
      s"sum(amount) AS total FROM ${table(0)} GROUP BY status")
  }

  def discard(rep: Int): Unit = {
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $mv")
    (0 to 1).foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${table(t)} PURGE"))
  }

  private def toRow(o: Order) = Row(o.id, o.cust, o.status, o.amount,
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(DmlGen.Epoch + o.sec)))

  private def fromRow(r: Row) = Order(r.getLong(0), r.getInt(1), r.getString(2),
    r.getLong(3), r.getTimestamp(4).toInstant.getEpochSecond - DmlGen.Epoch)

  // per-layer figures this workload measures itself
  private val rewriteMs = ArrayBuffer[Double]()
  private val expireMs = ArrayBuffer[Double]()
  private val refreshMs = ArrayBuffer[Double]()
  private var bytesRewritten = 0L
  private var filesRemoved = 0L
  private val probes = ArrayBuffer[LakeProbe.Head]()
  private val versionDeltas = ArrayBuffer[Int]()
  private var filesAdded = 0L
  private var bytesAdded = 0L
  private var rowsChanged = 0L
  private var writes = 0L

  private val snaps = Array.fill(2)(ArrayBuffer[Long]())
  private var mvReads = 0
  private var mvRewritten = 0

  private def headId(t: Int) =
    graft.lake.LakeMeta.of(spark, parts(t)).currentSnapshotId("main").get
  /** The head of each table at its last probe (traced runs). */
  private var last: Array[LakeProbe.Head] = Array.empty

  /** One untimed read per table (the first query after set-up compiles
    * the read path), then one cycle's ops without its head reads
    * ([[DmlGen.warmUp]]), run and checked but not timed: every op kind
    * compiles and the tables go through one maintenance pass before
    * the measured cycles. */
  def warmUp(ctx: Ctx): Unit = {
    (0 to 1).foreach(t => snaps(t) += headId(t))
    for (t <- 0 to 1) {
      val id = gen.models(t).rows.keys.min
      ctx.check(s"warm-up read ${DmlChurn.Tables(t)}") {
        spark.sql(s"SELECT id, cust, status, amount, ts FROM ${table(t)} WHERE id = $id")
          .collect().map(fromRow).toSeq == gen.models(t).rows.get(id).toSeq
      }
    }
    gen.warmUp().foreach(run(ctx, _))
  }

  def measure(ctx: Ctx): Unit = {
    if (ctx.trace.on) last = Array.tabulate(2)(t => LakeProbe.head(spark, parts(t), ctx.trace))
    // whole cycles only, so every run reads and writes the tables in
    // the same states (fragmentation grows through a cycle and the
    // maintenance pass at its end resets it)
    ctx.start()
    var n = 0L
    while (ctx.running || n % DmlGen.Cycle.size != 0) { run(ctx, gen.next()); n += 1 }
    ctx.stop()
  }

  private def run(ctx: Ctx, op: DmlOp): Unit = {
    val trace = ctx.trace
    /** Traced runs probe the head after every commit, off the clock:
      * metadata load time, versions written, and the files the commit
      * added. */
    def probe(t: Int, rows: Long): Unit = if (trace.on) {
      val h = LakeProbe.head(spark, parts(t), trace)
      probes += h
      versionDeltas += h.version - last(t).version
      val added = h.files.keySet -- last(t).files.keySet
      filesAdded += added.size
      bytesAdded += added.toSeq.map(h.files).sum
      rowsChanged += rows
      writes += 1
      last(t) = h
    }
    def write(t: Int, kind: String, rows: Long, sql: String): Unit = {
      ctx.timed("write", kind, rows) {
        trace.span("lake.write") { spark.sql(sql) }
        true
      }
      ctx.untimed { probe(t, rows); snaps(t) += headId(t) }
    }
    def call(span: String, sink: ArrayBuffer[Double], sql: String): Row = {
      val t = System.nanoTime()
      val r = trace.span(span) { spark.sql(sql).collect() }
      sink += (System.nanoTime() - t) / 1e6
      r.headOption.orNull
    }
    op match {
      case DmlOp.PointRead(t, id) =>
        val want = gen.models(t).rows.get(id)
        ctx.timed("read", s"point_read_${DmlChurn.Tables(t)}") {
          val got = trace.span("lake.scan") {
            spark.sql(s"SELECT id, cust, status, amount, ts FROM ${table(t)} " +
              s"WHERE id = $id").collect()
          }.map(fromRow).toSeq
          got == want.toSeq
        }
      case DmlOp.TimeTravel(t, back, count, sum) =>
        val snap = snaps(t)(snaps(t).size - 1 - back)
        ctx.timed("tt", "time_travel") {
          val got = trace.span("lake.scan") {
            spark.sql(s"SELECT count(*), sum(amount) FROM ${table(t)} VERSION AS OF $snap")
              .collect()
          }.head
          got.getLong(0) == count && got.getLong(1) == sum
        }
      case DmlOp.MvRead(t, want) =>
        ctx.timed("mv", "mv_read") {
          val df = spark.sql(s"SELECT status, count(*) AS n, sum(amount) AS total " +
            s"FROM ${table(t)} GROUP BY status")
          val got = trace.span("lake.scan") { df.collect() }
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
          mvReads += 1
          if (df.queryExecution.optimizedPlan.toString
              .contains(graft.mv.MvCommands.backingName(mv))) mvRewritten += 1
          got == want
        }
      case DmlOp.Insert(t, rows) =>
        write(t, "insert", rows.size,
          s"INSERT INTO ${table(t)} VALUES ${rows.map(_.sqlTuple).mkString(", ")}")
      case DmlOp.Merge(t, rows, _) =>
        write(t, "merge", rows.size,
          s"MERGE INTO ${table(t)} t USING (SELECT * FROM VALUES " +
            rows.map(_.sqlTuple).mkString(", ") +
            " AS s(id, cust, status, amount, ts)) s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET status = s.status, amount = s.amount " +
            "WHEN NOT MATCHED THEN INSERT *")
      case DmlOp.Update(t, ids, delta, st) =>
        write(t, "update", ids.size, s"UPDATE ${table(t)} SET amount = amount + $delta, " +
          s"status = '$st' WHERE id IN (${ids.mkString(", ")})")
      case DmlOp.Delete(t, ids) =>
        write(t, "delete", ids.size,
          s"DELETE FROM ${table(t)} WHERE id IN (${ids.mkString(", ")})")
      case DmlOp.Maintain(_) =>
        ctx.timed("maint", "maintain") {
          for (t <- 0 to 1) {
            val r = call("lake.procedures.rewrite", rewriteMs,
              s"CALL lk.system.rewrite_data_files(table => '$ns.${DmlChurn.Tables(t)}')")
            bytesRewritten += r.getAs[Long]("rewritten_bytes_count")
          }
          val d = call("lake.procedures.rewrite", rewriteMs,
            s"CALL lk.system.rewrite_position_delete_files(table => '$ns.${DmlChurn.Tables(1)}')")
          bytesRewritten += d.getAs[Long]("rewritten_bytes_count")
          val cutoff = DmlGen.tsLiteral(System.currentTimeMillis() / 1000 + 60 - DmlGen.Epoch)
          for (t <- 0 to 1) {
            val r = call("lake.procedures.expire", expireMs,
              s"CALL lk.system.expire_snapshots(table => '$ns.${DmlChurn.Tables(t)}', " +
                s"older_than => TIMESTAMP '$cutoff', retain_last => ${DmlChurn.RetainLast})")
            filesRemoved += r.getAs[Long]("deleted_data_files_count")
          }
          call("mv.refresh", refreshMs, s"REFRESH MATERIALIZED VIEW $mv INCREMENTAL")
          true
        }
        if (trace.on) ctx.untimed {
          (0 to 1).foreach(t => last(t) = LakeProbe.head(spark, parts(t), trace))
        }
        checkAll(ctx)
    }
  }

  /** Every row of both tables and the view against the model. */
  private def checkAll(ctx: Ctx): Unit = {
    for (t <- 0 to 1) ctx.check(s"${DmlChurn.Tables(t)} rows") {
      val got = spark.sql(s"SELECT id, cust, status, amount, ts FROM ${table(t)}")
        .collect().map(fromRow)
      got.length == gen.models(t).size &&
        got.forall(o => gen.models(t).rows.get(o.id).contains(o))
    }
    ctx.check("mv") {
      val want = gen.models(0).rows.values.groupBy(_.status)
        .map { case (s, os) => (s, os.size.toLong, os.map(_.amount).sum) }.toSet
      val got = spark.table(graft.mv.MvCommands.backingName(mv)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      got == want
    }
  }

  /** Nothing left to check: the measured phase runs whole cycles, and
    * each ends with a maintenance pass (which refreshes the view), a
    * full check of both tables and the view against the model, and a
    * read-only view read. */
  def finalCheck(ctx: Ctx): Unit = ()

  def space(): (Long, Long) = {
    val stored = (0 to 1).map(t => LakeProbe.dirBytes(spark,
      LakeProbe.location(spark, parts(t)))).sum
    val live = (0 to 1).map(t => LakeProbe.parquetBytes(spark,
      spark.table(table(t)), s"${spark.conf.get("spark.sql.warehouse.dir")}/live_$t")).sum
    liveBytesPerRow = live.toDouble / (0 to 1).map(gen.models(_).size).sum
    (stored, live)
  }
  private var liveBytesPerRow = 0.0

  def ownMetrics: Seq[String] = Seq("write_p50_ms", "write_tail_ms",
    "timetravel_p50_ms", "rows_per_s", "maint_s")

  def perLayer(ctx: Ctx, tr: Trace.Result): Map[String, Double] = Map(
    "lake.metadata.load_ms" -> Stats.median(probes.map(_.loadMs).toSeq),
    "lake.metadata.json_bytes" -> Stats.mean(probes.map(_.jsonBytes.toDouble).toSeq),
    "lake.metadata.versions_per_write" -> Stats.mean(versionDeltas.map(_.toDouble).toSeq),
    "lake.metadata.snapshots" -> Stats.mean(probes.map(_.snapshots.toDouble).toSeq),
    "lake.metadata.spilled_manifests" -> Stats.mean(probes.map(_.spilled.toDouble).toSeq),
    "lake.write.files_added" -> (if (writes == 0) 0.0 else filesAdded.toDouble / writes),
    "lake.write.amp" -> (if (rowsChanged == 0) 0.0
      else bytesAdded / (rowsChanged * liveBytesPerRow)),
    "lake.procedures.rewrite_ms" -> Stats.mean(rewriteMs.toSeq),
    "lake.procedures.expire_ms" -> Stats.mean(expireMs.toSeq),
    "lake.procedures.bytes_rewritten" -> bytesRewritten.toDouble,
    "lake.procedures.files_removed" -> filesRemoved.toDouble,
    "mv.refresh_ms" -> Stats.mean(refreshMs.toSeq),
    "mv.rewrite_ratio" -> (if (mvReads == 0) 0.0 else mvRewritten.toDouble / mvReads))

  def describe: Seq[String] = Seq(s"tables: ${DmlGen.InitialRows} initial rows each over " +
    s"${DmlGen.Days} days x 16 buckets; op cycle ${DmlGen.Cycle.map(c => s"${c._1}${c._2}").mkString(" ")}; " +
    s"expire retain_last=${DmlChurn.RetainLast}")
}

object DmlChurn {
  val Tables = IndexedSeq("orders_cow", "orders_mor")
  val RetainLast = 10
}
