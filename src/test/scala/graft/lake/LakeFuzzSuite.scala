package graft.lake

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Model-based DML fuzz.
  *
  * A SEEDED random sequence of mixed row-level operations (insert,
  * predicate delete/update, merge upsert, overwrite, compaction) runs
  * against a lake table and, in lockstep, an in-memory model; after
  * every operation the table must equal the model exactly. The same
  * sequence runs twice — copy-on-write and merge-on-read — so a
  * divergence immediately pins the write mode. Two cross-cutting
  * invariants close the loop:
  *
  *  - time travel: `VERSION AS OF` each recorded snapshot returns the
  *    state the model had at that point (history is immutable no
  *    matter how later operations rewrote files or masks);
  *  - changelog reconstruction: for sampled consecutive snapshots,
  *    `create_changelog_view` over (prev, next] equals the model
  *    diff — inserts and deletes as (id, v) multisets — and
  *    row-preserving compaction commits contribute NOTHING.
  *
  * Individual operator specs pin each path in isolation; this suite
  * exists for the interactions between them (mask-over-rewrite,
  * changelog-after-overwrite, CoW fast path then MoR delta, …), which
  * is where hand-enumerated cases run out. Deterministic by seed, so
  * a failure reproduces exactly.
  */
class LakeFuzzSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _

  override def beforeAll(): Unit = {
    wh = java.nio.file.Files.createTempDirectory("lake_fuzz").toString
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("fuzz-suite")
      .withExtensions(new LakeExtensions)
      .withExtensions(new graft.mv.MvExtensions)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("fuzz_sw").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
      .config("spark.sql.catalog.lake.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sql(s: String) = spark.sql(s)

  private def tableState(tbl: String, asOf: Option[Long] = None): Map[Long, String] = {
    val src = asOf.map(v => s"$tbl VERSION AS OF $v").getOrElse(tbl)
    sql(s"SELECT id, v FROM $src").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  private def run(mode: String, seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fz_${mode}_$seed"
    val props =
      if (mode == "mor")
        """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read',
          |'write.merge.mode'='merge-on-read')""".stripMargin
      else ""
    sql(s"CREATE TABLE $tbl (id bigint, v string) USING lake $props")
    val rng = new scala.util.Random(seed)
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    var nextId = 0L
    def freshIds(n: Int): Seq[Long] = {
      val ids = (nextId until nextId + n); nextId += n; ids
    }
    def lit(rows: Seq[(Long, String)]): String =
      rows.map { case (i, v) => s"($i, '$v')" }.mkString(", ")

    // recorded (snapshotId, model state) after every committed op
    val history = Seq.newBuilder[(Long, Map[Long, String])]
    def snapId(): Option[Long] = {
      val r = sql(s"SELECT max(snapshot_id) FROM $tbl.snapshots").collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }

    var opIdx = 0
    while (opIdx < nOps) {
      val committed = rng.nextInt(10) match {
        case 0 | 1 | 2 => // insert a fresh batch
          val rows = freshIds(1 + rng.nextInt(5))
            .map(i => i -> s"v${rng.nextInt(100)}")
          sql(s"INSERT INTO $tbl VALUES ${lit(rows)}")
          model ++= rows; true
        case 3 | 4 => // predicate delete
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          model.filterInPlace((i, _) => i % k != r); true
        case 5 | 6 => // predicate update
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"UPDATE $tbl SET v = concat(v, '+') WHERE id % $k = $r")
          model.mapValuesInPlace((i, v) => if (i % k == r) v + "+" else v); true
        case 7 => // merge upsert: half existing keys, half fresh
          val existing = rng.shuffle(model.keys.toSeq)
            .take(math.min(3, model.size))
            .map(i => i -> s"u${rng.nextInt(100)}")
          val fresh = freshIds(1 + rng.nextInt(3))
            .map(i => i -> s"n${rng.nextInt(100)}")
          val src = existing ++ fresh
          sql(s"""MERGE INTO $tbl t
                 |USING (SELECT * FROM (VALUES ${lit(src)}) AS s(id, v)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = s.v
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          model ++= src; true
        case 8 => // overwrite (unpartitioned → truncate-and-replace)
          val rows = freshIds(2 + rng.nextInt(3))
            .map(i => i -> s"o${rng.nextInt(100)}")
          sql(s"INSERT OVERWRITE $tbl VALUES ${lit(rows)}")
          model.clear(); model ++= rows; true
        case 9 => // compaction: state-preserving, changelog-invisible
          sql(s"CALL lake.system.rewrite_data_files(table => 'db." +
            s"${tbl.split('.').last}')")
          true
      }
      if (committed) {
        assert(tableState(tbl) == model.toMap,
          s"$mode seed=$seed diverged after op #$opIdx")
        snapId().foreach(sid => history += ((sid, model.toMap)))
      }
      opIdx += 1
    }

    val states = history.result()
    // time travel: every 4th recorded snapshot still shows its state
    states.zipWithIndex.filter(_._2 % 4 == 0).foreach { case ((sid, st), _) =>
      assert(tableState(tbl, asOf = Some(sid)) == st,
        s"$mode seed=$seed: VERSION AS OF $sid lost its state")
    }
    // changelog reconstruction over sampled consecutive pairs
    states.sliding(2).zipWithIndex.filter(_._2 % 3 == 0).foreach {
      case (Seq((sidA, stA), (sidB, stB)), _) =>
        val view = s"fz_ch_${mode}_$seed"
        sql(s"""CALL lake.system.create_changelog_view(
               |table => 'db.${tbl.split('.').last}',
               |changelog_view => '$view',
               |options => map('start-snapshot-id', '$sidA',
               |               'end-snapshot-id', '$sidB'))""".stripMargin)
        val got = sql(s"SELECT id, v, _change_type FROM $view").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .groupBy(identity).view.mapValues(_.length).toMap
        val deletes = stA.toSet.diff(stB.toSet)
          .map { case (i, v) => (i, v, "delete") -> 1 }
        val inserts = stB.toSet.diff(stA.toSet)
          .map { case (i, v) => (i, v, "insert") -> 1 }
        val want: Map[(Long, String, String), Int] =
          (deletes ++ inserts).toMap
        assert(got == want,
          s"$mode seed=$seed: changelog ($sidA,$sidB] != model diff:\n" +
            s"got  $got\nwant $want")
      case _ => ()
    }
    // net_changes over the whole recorded history: every intermediate
    // write, carry-over and compaction must cancel to the set
    // difference of the two end states
    if (states.size >= 2) {
      val ((sidA, stA), (sidB, stB)) = (states.head, states.last)
      val view = s"fz_net_${mode}_$seed"
      sql(s"""CALL lake.system.create_changelog_view(
             |table => 'db.${tbl.split('.').last}',
             |changelog_view => '$view', net_changes => true,
             |options => map('start-snapshot-id', '$sidA',
             |               'end-snapshot-id', '$sidB'))""".stripMargin)
      val got = sql(s"SELECT id, v, _change_type FROM $view").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want: Map[(Long, String, String), Int] =
        (stA.toSet.diff(stB.toSet).map { case (i, v) => (i, v, "delete") -> 1 } ++
          stB.toSet.diff(stA.toSet).map { case (i, v) => (i, v, "insert") -> 1 }).toMap
      assert(got == want,
        s"$mode seed=$seed: net changelog ($sidA,$sidB] != model diff:\n" +
          s"got  $got\nwant $want")
    }
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: copy-on-write DML sequence tracks the model") {
    run("cow", seed = 11, nOps = 18)
  }

  test("fuzz: merge-on-read DML sequence tracks the model") {
    run("mor", seed = 11, nOps = 18)
  }

  test("fuzz: second seed, both modes, shorter") {
    run("cow", seed = 47, nOps = 10)
    run("mor", seed = 47, nOps = 10)
  }

  /** Schema evolution interleaved with DML — the riskiest interaction
    * surface: RENAME COLUMN mid-history means later masks, rewrites
    * and time travel must resolve the value column through its FIELD
    * ID across files written under either name; ADD then DROP COLUMN
    * exercises epoch-mapped reads over files with extra/missing
    * physical columns. The model only ever tracks (id, v-value) — the
    * engine must agree no matter which name/epoch each file was
    * written under. MoR mode, where masks reference files across
    * epochs, is the half that historically breaks in real systems. */
  private def runEvo(mode: String, seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fze_${mode}_$seed"
    val props =
      if (mode == "mor")
        """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read',
          |'write.merge.mode'='merge-on-read')""".stripMargin
      else ""
    sql(s"CREATE TABLE $tbl (id bigint, v string) USING lake $props")
    val rng = new scala.util.Random(seed)
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    var nextId = 0L
    var vName = "v"        // current name of the value column
    var hasExtra = false   // a nullable add-on column comes and goes
    // ids inserted while the CURRENT `extra` incarnation exists: only
    // their files hold non-null extra; a drop/re-add nulls everything
    // before it (fresh field id), which is exactly the stats-pruning
    // trap the filtered-read invariant below guards (old footers say
    // the dead column had zero nulls)
    val extraNonNull = scala.collection.mutable.Set[Long]()
    def lit(rows: Seq[(Long, String)]): String =
      rows.map { case (i, v) =>
        if (hasExtra) s"($i, '$v', ${i % 7})" else s"($i, '$v')"
      }.mkString(", ")
    def state(): Map[Long, String] =
      sql(s"SELECT id, $vName FROM $tbl").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    def snapId(): Option[Long] = {
      val r = sql(s"SELECT max(snapshot_id) FROM $tbl.snapshots").collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // (snapshot, state, value-column name AT THAT SNAPSHOT) — time
    // travel reads with the snapshot's schema, so the name recorded at
    // commit time must still resolve there after later renames.
    // ALTER-only ops record under the PREVIOUS snapshot id; distinctBy
    // below keeps the first (pre-ALTER) record, whose name matches
    // that snapshot's epoch.
    val hist = Seq.newBuilder[(Long, Map[Long, String], String)]
    (0 until nOps).foreach { opIdx =>
      rng.nextInt(10) match {
        case 0 | 1 | 2 =>
          val rows = (nextId until nextId + 1 + rng.nextInt(4))
            .map(i => i -> s"v${rng.nextInt(100)}")
          nextId += rows.size
          sql(s"INSERT INTO $tbl VALUES ${lit(rows)}")
          model ++= rows
          if (hasExtra) extraNonNull ++= rows.map(_._1)
        case 3 | 4 =>
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          model.filterInPlace((i, _) => i % k != r)
        case 5 =>
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"UPDATE $tbl SET $vName = concat($vName, '+') " +
            s"WHERE id % $k = $r")
          model.mapValuesInPlace((i, v) => if (i % k == r) v + "+" else v)
        case 6 => // rename the value column back and forth
          val next = if (vName == "v") "vv" else "v"
          sql(s"ALTER TABLE $tbl RENAME COLUMN $vName TO $next")
          vName = next
        case 7 => // add / drop a nullable tail column
          if (!hasExtra) {
            sql(s"ALTER TABLE $tbl ADD COLUMN extra bigint")
            hasExtra = true
          } else {
            sql(s"ALTER TABLE $tbl DROP COLUMN extra")
            hasExtra = false
            extraNonNull.clear()
          }
        case 8 => sql(s"CALL lake.system.rewrite_data_files(" +
          s"table => 'db.${tbl.split('.').last}')")
        case 9 => // point update via merge on a sampled key set
          val src = rng.shuffle(model.keys.toSeq)
            .take(math.min(3, model.size))
            .map(i => i -> s"m${rng.nextInt(100)}")
          if (src.nonEmpty) {
            val cols = if (hasExtra) s"(id, $vName, extra)" else s"(id, $vName)"
            sql(s"""MERGE INTO $tbl t
                   |USING (SELECT * FROM (VALUES ${lit(src)})
                   |       AS s$cols) s
                   |ON t.id = s.id
                   |WHEN MATCHED THEN UPDATE SET $vName = s.$vName""".stripMargin)
            model ++= src
          }
      }
      assert(state() == model.toMap,
        s"evo $mode seed=$seed diverged after op #$opIdx (vName=$vName, " +
          s"extra=$hasExtra)")
      // filtered-read invariants: pushed predicates drive stats
      // pruning over mixed-epoch files — the path an unfiltered state
      // dump never touches (the rename/re-add pruning bug class)
      if (model.nonEmpty) {
        val k = model.keys.toSeq(rng.nextInt(model.size))
        assert(sql(s"SELECT count(*) FROM $tbl WHERE id = $k")
          .collect()(0).getLong(0) == 1L,
          s"evo $mode seed=$seed op #$opIdx: id = $k filtered read lost its row")
        val v = model(k)
        val expV = model.valuesIterator.count(_ == v).toLong
        assert(sql(s"SELECT count(*) FROM $tbl WHERE $vName = '$v'")
          .collect()(0).getLong(0) == expV,
          s"evo $mode seed=$seed op #$opIdx: $vName = '$v' filtered read wrong")
      }
      if (hasExtra) {
        val expNull = model.keys.count(id => !extraNonNull(id)).toLong
        val gotNull = sql(s"SELECT count(*) FROM $tbl WHERE extra IS NULL")
          .collect()(0).getLong(0)
        assert(gotNull == expNull,
          s"evo $mode seed=$seed op #$opIdx: extra IS NULL must see rows " +
            "written before the re-add (dead-column stats trap)")
      }
      snapId().foreach(sid => hist += ((sid, model.toMap, vName)))
    }
    // sampled snapshots still show their state under their OWN schema
    hist.result().distinctBy(_._1).zipWithIndex.filter(_._2 % 4 == 0)
      .foreach { case ((sid, st, name), _) =>
        val got = sql(s"SELECT id, $name FROM $tbl VERSION AS OF $sid")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == st,
          s"evo $mode seed=$seed: VERSION AS OF $sid (col $name) lost state")
      }
    sql(s"DROP TABLE $tbl")
  }

  /** Nested-evolution fuzz: struct-internal renames, nested add/drop,
    * and struct-column renames interleave with DML + compaction in
    * both write modes. The model tracks values by IDENTITY, so any
    * path that resolves struct internals by name or position (the
    * round-8 nested-field-id family: nulled renames, swapped values,
    * resurrected re-adds) diverges. Filtered-read invariants push
    * nested dotted predicates through stats pruning; IS NULL after a
    * nested re-add probes the dead-column stats trap one level down. */
  private def runNested(mode: String, seed: Long, nOps: Int,
      partitioned: Boolean = false): Unit = {
    val tbl = s"lake.db.fzn_${mode}_${if (partitioned) "p" else ""}$seed"
    val props =
      if (mode == "mor")
        """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read',
          |'write.merge.mode'='merge-on-read')""".stripMargin
      else ""
    // a NESTED partition source (bucket over m.a) puts the spec's
    // dotted-path tracking under the full DML/compaction interleave:
    // the struct-rename op retargets it ("m.a" -> "meta.a"), and
    // every write evaluates the transform through the struct path
    val part = if (partitioned) "PARTITIONED BY (bucket(4, m.a))" else ""
    sql(s"CREATE TABLE $tbl (id bigint, m struct<a: bigint, b: bigint>) " +
      s"USING lake $part $props")
    val rng = new scala.util.Random(seed)
    // id -> (aVal, bVal, extraOpt): identity-tracked nested values
    val model = scala.collection.mutable.LinkedHashMap[Long, (Long, Long, Option[Long])]()
    var nextId = 0L
    var mName = "m"   // current name of the struct column
    var bName = "b"   // current name of the renamed-back-and-forth leaf
    var hasExtra = false // nested add/drop leaf m.extra
    def structLit(a: Long, b: Long, e: Option[Long]): String =
      if (hasExtra)
        s"named_struct('a', ${a}L, '$bName', ${b}L, 'extra', " +
          e.map(x => s"${x}L").getOrElse("CAST(NULL AS bigint)") + ")"
      else s"named_struct('a', ${a}L, '$bName', ${b}L)"
    def state(): Map[Long, (Long, Long)] =
      sql(s"SELECT id, $mName.a, $mName.$bName FROM $tbl").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0 until nOps).foreach { opIdx =>
      rng.nextInt(10) match {
        case 0 | 1 | 2 =>
          val rows = (nextId until nextId + 1 + rng.nextInt(4))
            .map(i => (i, i * 10, rng.nextInt(50).toLong))
          nextId += rows.size
          val vals = rows.map { case (i, a, b) =>
            val e = if (hasExtra) Some(b % 7) else None
            s"($i, ${structLit(a, b, e)})"
          }.mkString(", ")
          sql(s"INSERT INTO $tbl VALUES $vals")
          rows.foreach { case (i, a, b) =>
            model(i) = (a, b, if (hasExtra) Some(b % 7) else None)
          }
        case 3 | 4 =>
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          model.filterInPlace((i, _) => i % k != r)
        case 5 => // whole-struct rewrite of a keyed slice
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          val extraExpr =
            if (hasExtra) s", 'extra', $mName.extra" else ""
          sql(s"UPDATE $tbl SET $mName = named_struct(" +
            s"'a', $mName.a, '$bName', $mName.$bName + 1000$extraExpr) " +
            s"WHERE id % $k = $r")
          model.mapValuesInPlace { case (i, (a, b, e)) =>
            if (i % k == r) (a, b + 1000, e) else (a, b, e)
          }
        case 6 => // rename the nested leaf back and forth
          val next = if (bName == "b") "bb" else "b"
          sql(s"ALTER TABLE $tbl RENAME COLUMN $mName.$bName TO $next")
          bName = next
        case 7 => // nested add / drop of m.extra
          if (!hasExtra) {
            sql(s"ALTER TABLE $tbl ADD COLUMN $mName.extra bigint")
            hasExtra = true
            // fresh nested id: every existing row reads NULL for it
            model.mapValuesInPlace { case (_, (a, b, _)) => (a, b, None) }
          } else {
            sql(s"ALTER TABLE $tbl DROP COLUMN $mName.extra")
            hasExtra = false
            model.mapValuesInPlace { case (_, (a, b, _)) => (a, b, None) }
          }
        case 8 => sql(s"CALL lake.system.rewrite_data_files(" +
          s"table => 'db.${tbl.split('.').last}')")
        case 9 => // rename the struct column itself
          val next = if (mName == "m") "meta" else "m"
          sql(s"ALTER TABLE $tbl RENAME COLUMN $mName TO $next")
          mName = next
      }
      val got = state()
      val want = model.view.mapValues(v => (v._1, v._2)).toMap
      assert(got == want,
        s"nested $mode seed=$seed diverged after op #$opIdx " +
          s"(m=$mName, b=$bName, extra=$hasExtra)\n got $got\nwant $want")
      // nested filtered reads drive dotted-path stats pruning
      if (model.nonEmpty) {
        val k = model.keys.toSeq(rng.nextInt(model.size))
        val (a, b, _) = model(k)
        assert(sql(s"SELECT count(*) FROM $tbl WHERE $mName.a = $a")
          .collect()(0).getLong(0) ==
          model.valuesIterator.count(_._1 == a).toLong,
          s"nested $mode seed=$seed op #$opIdx: $mName.a = $a wrong")
        assert(sql(s"SELECT count(*) FROM $tbl WHERE $mName.$bName = $b")
          .collect()(0).getLong(0) ==
          model.valuesIterator.count(_._2 == b).toLong,
          s"nested $mode seed=$seed op #$opIdx: $mName.$bName = $b wrong")
      }
      if (hasExtra) {
        val expNull = model.valuesIterator.count(_._3.isEmpty).toLong
        assert(sql(s"SELECT count(*) FROM $tbl WHERE $mName.extra IS NULL")
          .collect()(0).getLong(0) == expNull,
          s"nested $mode seed=$seed op #$opIdx: $mName.extra IS NULL " +
            "must see pre-re-add rows (nested dead-column stats trap)")
      }
    }
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz regression: evo-mor seed 70707 (round-7 soak find — " +
      "compaction resurrected a dropped column's values by name)") {
    runEvo("mor", seed = 70707, nOps = 16)
  }

  test("fuzz: nested evolution interleaved with DML, both modes") {
    runNested("cow", seed = 31, nOps = 16)
    runNested("mor", seed = 31, nOps = 16)
  }

  test("fuzz: nested evolution on a NESTED-partition-source table") {
    runNested("cow", seed = 37, nOps = 16, partitioned = true)
    runNested("mor", seed = 37, nOps = 16, partitioned = true)
  }

  test("fuzz: schema evolution interleaved with DML, both modes") {
    runEvo("cow", seed = 23, nOps = 16)
    runEvo("mor", seed = 23, nOps = 16)
  }

  /** Frozen-window fuzz: the `hive-ext.readOnly` marker flips on
    * between random DML ops; while frozen, a randomly drawn mutation
    * from the whole vocabulary (INSERT, full-table DELETE/UPDATE,
    * compaction, branch, expire, ALTER ADD COLUMN, DROP TABLE) must
    * be VETOED with the read-only error and leave both the visible
    * state and the snapshot head untouched; thawed windows must
    * behave exactly like plain DML. This suite never installs the
    * readonly extension, so every veto is the lake METADATA layer's
    * (loadMetaWritable / commitRetrying / alterTable / dropTable). */
  private def runFrozen(mode: String, seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fzf_${mode}_$seed"
    val short = tbl.split('.').last
    val props =
      if (mode == "mor")
        """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read',
          |'write.merge.mode'='merge-on-read')""".stripMargin
      else ""
    sql(s"CREATE TABLE $tbl (id bigint, v string) USING lake $props")
    val rng = new scala.util.Random(seed)
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    var nextId = 0L
    def state(): Map[Long, String] =
      sql(s"SELECT id, v FROM $tbl").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    def headSnap(): Long = {
      val r = sql(s"SELECT max(snapshot_id) FROM $tbl.snapshots").collect()(0)
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    (0 until nOps).foreach { opIdx =>
      rng.nextInt(6) match {
        case 0 | 1 | 2 =>
          val rows = (nextId until nextId + 1 + rng.nextInt(4))
            .map(i => i -> s"v${rng.nextInt(100)}")
          nextId += rows.size
          sql(s"INSERT INTO $tbl VALUES " +
            rows.map { case (i, v) => s"($i, '$v')" }.mkString(", "))
          model ++= rows
        case 3 =>
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          model.filterInPlace((i, _) => i % k != r)
        case 4 =>
          val k = 2 + rng.nextInt(4); val r = rng.nextInt(k)
          sql(s"UPDATE $tbl SET v = concat(v, '+') WHERE id % $k = $r")
          model.mapValuesInPlace((i, v) => if (i % k == r) v + "+" else v)
        case 5 => sql(s"CALL lake.system.rewrite_data_files(" +
          s"table => 'db.$short')")
      }
      assert(state() == model.toMap,
        s"frozen $mode seed=$seed diverged after op #$opIdx (thawed)")
      if (rng.nextInt(3) == 0) {
        sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('hive-ext.readOnly'='true')")
        val snapBefore = headSnap()
        val attempts = Seq[(String, () => Any)](
          "insert" -> (() => sql(s"INSERT INTO $tbl VALUES (99999, 'x')")),
          "compact" -> (() => sql(s"CALL lake.system.rewrite_data_files(" +
            s"table => 'db.$short')").collect()),
          "branch" -> (() => sql(s"CALL lake.system.create_branch(" +
            s"table => 'db.$short', branch => 'bx$opIdx')").collect()),
          "expire" -> (() => sql(s"CALL lake.system.expire_snapshots(" +
            s"table => 'db.$short')").collect()),
          "addcol" -> (() =>
            sql(s"ALTER TABLE $tbl ADD COLUMN fx$opIdx bigint")),
          "drop" -> (() => sql(s"DROP TABLE $tbl"))) ++
          (if (model.nonEmpty) Seq[(String, () => Any)](
            "delete" -> (() => sql(s"DELETE FROM $tbl WHERE id >= 0")),
            "update" -> (() => sql(s"UPDATE $tbl SET v = 'x'")))
          else Nil)
        val (what, attempt) = attempts(rng.nextInt(attempts.size))
        val e = intercept[Exception](attempt())
        assert(String.valueOf(e.getMessage).toLowerCase.contains("read-only"),
          s"frozen $mode seed=$seed op #$opIdx: '$what' should hit the " +
            s"read-only veto, got: ${e.getMessage}")
        assert(state() == model.toMap,
          s"frozen $mode seed=$seed op #$opIdx: '$what' mutated a " +
            "frozen table")
        assert(headSnap() == snapBefore,
          s"frozen $mode seed=$seed op #$opIdx: '$what' advanced the " +
            "snapshot head of a frozen table")
        sql(s"ALTER TABLE $tbl UNSET TBLPROPERTIES ('hive-ext.readOnly')")
      }
    }
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: frozen windows veto every mutation path") {
    runFrozen("cow", seed = 41, nOps = 16)
    runFrozen("mor", seed = 41, nOps = 16)
  }

  /** Partitioned-table fuzz: identity partitioning routes every write
    * through the fanout writer, row-level operations through the
    * partition-aware scan, and INSERT OVERWRITE through DYNAMIC
    * partition replacement — only partitions present in the new rows
    * are replaced, the rest must survive untouched. The model applies
    * the same rule, so a fanout/overwrite/row-level disagreement on
    * partition routing shows up as a diff. */
  private def runPart(mode: String, seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fzp_${mode}_$seed"
    val props =
      if (mode == "mor")
        """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read',
          |'write.merge.mode'='merge-on-read')""".stripMargin
      else ""
    sql(s"""CREATE TABLE $tbl (id bigint, p bigint, v string) USING lake
           |PARTITIONED BY (p) $props""".stripMargin)
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
    val rng = new scala.util.Random(seed)
    // model: id -> (p, v); id unique, p = id % 3 at insert time
    val model = scala.collection.mutable.LinkedHashMap[Long, (Long, String)]()
    var nextId = 0L
    var pName = "p" // the partition source column gets renamed mid-run
    def lit(rows: Seq[(Long, (Long, String))]): String =
      rows.map { case (i, (p, v)) => s"($i, $p, '$v')" }.mkString(", ")
    def state(): Map[Long, (Long, String)] =
      sql(s"SELECT id, $pName, v FROM $tbl").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    (0 until nOps).foreach { opIdx =>
      rng.nextInt(11) match {
        case 0 | 1 | 2 =>
          val rows = (nextId until nextId + 1 + rng.nextInt(5))
            .map(i => i -> (i % 3, s"v${rng.nextInt(100)}"))
          nextId += rows.size
          sql(s"INSERT INTO $tbl VALUES ${lit(rows)}")
          model ++= rows
        case 3 | 4 => // delete: alternate partition-aligned / crossing
          if (rng.nextBoolean()) {
            val p = rng.nextInt(3)
            sql(s"DELETE FROM $tbl WHERE $pName = $p")
            model.filterInPlace((_, pv) => pv._1 != p)
          } else {
            val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
            sql(s"DELETE FROM $tbl WHERE id % $k = $r")
            model.filterInPlace((i, _) => i % k != r)
          }
        case 5 | 6 =>
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          sql(s"UPDATE $tbl SET v = concat(v, '+') WHERE id % $k = $r")
          model.mapValuesInPlace((i, pv) =>
            if (i % k == r) (pv._1, pv._2 + "+") else pv)
        case 7 => // merge upsert across partitions
          val existing = rng.shuffle(model.keys.toSeq)
            .take(math.min(3, model.size))
            .map(i => i -> (model(i)._1, s"u${rng.nextInt(100)}"))
          val fresh = (nextId until nextId + 1 + rng.nextInt(2))
            .map(i => i -> (i % 3, s"n${rng.nextInt(100)}"))
          nextId += fresh.size
          val src = existing ++ fresh
          sql(s"""MERGE INTO $tbl t
                 |USING (SELECT * FROM (VALUES ${lit(src)})
                 |       AS s(id, $pName, v)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = s.v
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          model ++= src
        case 8 => // DYNAMIC overwrite: replaces ONLY the touched partitions
          val p = rng.nextInt(3)
          val rows = (nextId until nextId + 2 + rng.nextInt(2))
            .map(i => i -> (p.toLong, s"o${rng.nextInt(100)}"))
          nextId += rows.size
          sql(s"INSERT OVERWRITE $tbl VALUES ${lit(rows)}")
          model.filterInPlace((_, pv) => pv._1 != p)
          model ++= rows
        case 9 => // compaction, cycling its layouts by op index (not
          // the RNG, so the op sequence stays the seed's)
          val t = tbl.split('.').last
          val layout = Seq("", ", strategy => 'sort', sort_order => 'v'",
            ", strategy => 'sort', sort_order => 'zorder(id, v)'")(opIdx % 3)
          sql(s"CALL lake.system.rewrite_data_files(table => 'db.$t'$layout)")
          if (mode == "mor")
            sql(s"CALL lake.system.rewrite_position_delete_files(table => 'db.$t')")
        case 10 => // rename the PARTITION SOURCE column — the spec
          // must follow, and every later write/prune keep resolving
          val next = if (pName == "p") "pp" else "p"
          sql(s"ALTER TABLE $tbl RENAME COLUMN $pName TO $next")
          pName = next
      }
      assert(state() == model.toMap,
        s"part $mode seed=$seed diverged after op #$opIdx (pName=$pName)")
    }
    } finally // the shared session must not leak dynamic mode into
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: partitioned table with dynamic overwrite, both modes") {
    runPart("cow", seed = 31, nOps = 16)
    runPart("mor", seed = 31, nOps = 16)
  }

  /** TIME-transform partition fuzz under SESSION-ZONE churn: a
    * days(ts)-partitioned table created in UTC (pinning
    * `write.transform.zone` = UTC), then every op runs under a
    * randomly flipped session timezone. Instants insert via
    * `timestamp_micros(...)` (zone-free literals) so the model is
    * exact; the model computes each row's day in the PINNED zone.
    * Invariants after every op: full state equality, and a sampled
    * `ts >= X` filtered read (timestamp stats pruning must never
    * drop matching rows). Dynamic overwrite targets a model-computed
    * UTC day — pre-pinning, an overwrite from a flipped zone matched
    * nothing and the replaced rows survived. */
  private def runTimePart(mode: String, seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fzt_${mode}_$seed"
    val zones = Seq("UTC", "America/Los_Angeles", "Asia/Tokyo",
      "Australia/Eucla") // incl. a +08:45 oddity
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val props =
        if (mode == "mor")
          """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
            |'write.update.mode'='merge-on-read')""".stripMargin
        else ""
      sql(s"""CREATE TABLE $tbl (id bigint, ts timestamp, v string)
             |USING lake PARTITIONED BY (days(ts)) $props""".stripMargin)
      val rng = new scala.util.Random(seed)
      val dayUs = 86400L * 1000000L
      // instants spread over 6 days around an epoch base; day
      // boundaries in LA/Tokyo fall mid-day UTC, so zone bugs move
      // rows across tuples
      val baseUs = 1704067200L * 1000000L // 2024-01-01T00:00Z
      def randUs(): Long = baseUs + rng.nextInt(6) * dayUs +
        rng.nextInt(86400) * 1000000L
      def utcDay(us: Long): Long = Math.floorDiv(us, dayUs)
      // model: id -> (micros, v)
      val model = scala.collection.mutable.LinkedHashMap[Long, (Long, String)]()
      var nextId = 0L
      def lit(rows: Seq[(Long, (Long, String))]): String =
        rows.map { case (i, (us, v)) =>
          s"($i, timestamp_micros(${us}L), '$v')" }.mkString(", ")
      def state(): Map[Long, (Long, String)] =
        sql(s"SELECT id, unix_micros(ts), v FROM $tbl").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      (0 until nOps).foreach { opIdx =>
        spark.conf.set("spark.sql.session.timeZone",
          zones(rng.nextInt(zones.size)))
        rng.nextInt(8) match {
          case 0 | 1 | 2 =>
            val rows = (nextId until nextId + 1 + rng.nextInt(4))
              .map(i => i -> (randUs(), s"v${rng.nextInt(100)}"))
            nextId += rows.size
            sql(s"INSERT INTO $tbl VALUES ${lit(rows)}")
            model ++= rows
          case 3 =>
            val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
            sql(s"DELETE FROM $tbl WHERE id % $k = $r")
            model.filterInPlace((i, _) => i % k != r)
          case 4 =>
            val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
            sql(s"UPDATE $tbl SET v = concat(v, '+') WHERE id % $k = $r")
            model.mapValuesInPlace((i, uv) =>
              if (i % k == r) (uv._1, uv._2 + "+") else uv)
          case 5 => // dynamic overwrite of one PINNED-zone day
            val day = baseUs / dayUs + rng.nextInt(6)
            val rows = (nextId until nextId + 2 + rng.nextInt(2)).map(i =>
              i -> (day * dayUs + rng.nextInt(86400) * 1000000L,
                s"o${rng.nextInt(100)}"))
            nextId += rows.size
            sql(s"INSERT OVERWRITE $tbl VALUES ${lit(rows)}")
            model.filterInPlace((_, uv) => utcDay(uv._1) != day)
            model ++= rows
          case 6 => sql(s"CALL lake.system.rewrite_data_files(" +
            s"table => 'db.${tbl.split('.').last}')")
          case 7 => // filtered read: timestamp pruning must keep matches
            val cutUs = baseUs + rng.nextInt(6 * 86400).toLong * 1000000L
            val got = sql(s"SELECT id FROM $tbl " +
              s"WHERE ts >= timestamp_micros(${cutUs}L)")
              .collect().map(_.getLong(0)).toSet
            val want = model.collect {
              case (i, (us, _)) if us >= cutUs => i }.toSet
            assert(got == want,
              s"time $mode seed=$seed filtered read diverged op #$opIdx")
        }
        assert(state() == model.toMap,
          s"time $mode seed=$seed diverged after op #$opIdx " +
            s"(zone=${spark.conf.get("spark.sql.session.timeZone")})")
      }
      // every LIVE day appears as a pinned-zone (UTC) tuple; the
      // metadata may list more (MoR keeps a tuple whose rows are all
      // delete-masked), but never a tuple outside the generated days
      // and never a zone-shifted spelling
      val tuples = sql(s"SELECT partition FROM $tbl.partitions")
        .collect().map(_.get(0).toString).distinct.toSet
      def dayStr(day: Long): String = "{ts_day=%s}".format(
        java.time.LocalDate.ofEpochDay(day).toString)
      val wantDays = model.values.map(uv => dayStr(utcDay(uv._1))).toSet
      val allDays = (0 until 6).map(d => dayStr(baseUs / dayUs + d)).toSet
      assert(wantDays.subsetOf(tuples),
        s"live pinned-zone days missing from tuples: " +
          s"${(wantDays -- tuples).mkString(", ")}")
      assert(tuples.subsetOf(allDays),
        s"zone-shifted tuple spelling leaked: " +
          s"${(tuples -- allDays).mkString(", ")}")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevZone)
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    }
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: days(ts) partitioning under session-zone churn, both modes") {
    runTimePart("cow", seed = 37, nOps = 16)
    runTimePart("mor", seed = 37, nOps = 16)
  }

  /** Upsert-table fuzz: `write.upsert.enabled` turns every INSERT into
    * a write-without-read upsert (data files + one equality-delete
    * file of the batch keys, Iceberg-v2 / Flink-sink semantics).
    * Interleaving upserts with predicate DML, compaction, and both
    * delete-file maintenance procedures stresses the data-sequence
    * ordering rules (an eq delete applies only to STRICTLY OLDER
    * files) and the eq↔position mask composition — after any op the
    * table must still equal the key-latest model, and sampled time
    * travel must show each snapshot's recorded state (seq ordering is
    * per-snapshot, so folding later deletes must not leak backwards). */
  private def runUpsert(mode: String, seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fzu_${mode}_$seed"
    val morProps =
      if (mode == "mor")
        """,'write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read'""".stripMargin
      else ""
    sql(s"""CREATE TABLE $tbl (id bigint, v string) USING lake
           |TBLPROPERTIES ('identifier-fields'='id',
           |'write.upsert.enabled'='true'$morProps)""".stripMargin)
    val rng = new scala.util.Random(seed)
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    var nextId = 0L
    def lit(rows: Seq[(Long, String)]): String =
      rows.map { case (i, v) => s"($i, '$v')" }.mkString(", ")
    def state(): Map[Long, String] =
      sql(s"SELECT id, v FROM $tbl").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    def snapId(): Option[Long] = {
      val r = sql(s"SELECT max(snapshot_id) FROM $tbl.snapshots").collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val hist = Seq.newBuilder[(Long, Map[Long, String])]
    (0 until nOps).foreach { opIdx =>
      rng.nextInt(10) match {
        case 0 | 1 | 2 | 3 => // upsert: existing keys get new values
          val existing = rng.shuffle(model.keys.toSeq)
            .take(rng.nextInt(1 + math.min(3, model.size)))
            .map(i => i -> s"u${rng.nextInt(100)}")
          val fresh = (nextId until nextId + 1 + rng.nextInt(3))
            .map(i => i -> s"v${rng.nextInt(100)}")
          nextId += fresh.size
          val batch = existing ++ fresh
          sql(s"INSERT INTO $tbl VALUES ${lit(batch)}")
          model ++= batch
        case 4 =>
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          model.filterInPlace((i, _) => i % k != r)
        case 5 =>
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          sql(s"UPDATE $tbl SET v = concat(v, '+') WHERE id % $k = $r")
          model.mapValuesInPlace((i, v) => if (i % k == r) v + "+" else v)
        case 6 => sql(s"CALL lake.system.rewrite_data_files(table => " +
          s"'db.${tbl.split('.').last}', options => " +
          "map('rewrite-all','true','min-input-files','1'))")
        case 7 => sql(s"CALL lake.system.convert_equality_deletes(" +
          s"table => 'db.${tbl.split('.').last}')")
        case 8 => sql(s"CALL lake.system.rewrite_position_delete_files(" +
          s"table => 'db.${tbl.split('.').last}')")
        case 9 => // pure-overwrite upsert batch over existing keys only
          val existing = rng.shuffle(model.keys.toSeq)
            .take(math.min(4, model.size))
            .map(i => i -> s"w${rng.nextInt(100)}")
          if (existing.nonEmpty) {
            sql(s"INSERT INTO $tbl VALUES ${lit(existing)}")
            model ++= existing
          }
      }
      assert(state() == model.toMap,
        s"upsert $mode seed=$seed diverged after op #$opIdx")
      snapId().foreach(sid => hist += ((sid, model.toMap)))
    }
    hist.result().distinctBy(_._1).zipWithIndex.filter(_._2 % 4 == 0)
      .foreach { case ((sid, st), _) =>
        val got = sql(s"SELECT id, v FROM $tbl VERSION AS OF $sid")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == st,
          s"upsert $mode seed=$seed: VERSION AS OF $sid lost state")
      }
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: equality-delete upserts with maintenance, both modes") {
    runUpsert("cow", seed = 59, nOps = 16)
    runUpsert("mor", seed = 59, nOps = 16)
  }

  /** Branch-aware fuzz: DML interleaves on `main` and a `dev` branch
    * (via the `tbl.branch_dev` identifier) with per-ref models —
    * writes to one ref must NEVER leak into the other. fast_forward
    * main→dev succeeds exactly when main has not advanced since the
    * branch forked (and then main's model becomes dev's); after a
    * divergent main write it must refuse. DROP + re-CREATE BRANCH
    * re-forks from current main. */
  private def runBranch(seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fzb_$seed"
    val short = tbl.split('.').last
    sql(s"CREATE TABLE $tbl (id bigint, v string) USING lake")
    val rng = new scala.util.Random(seed)
    val main = scala.collection.mutable.LinkedHashMap[Long, String]()
    var dev: Option[scala.collection.mutable.LinkedHashMap[Long, String]] = None
    var mainDiverged = false // main advanced since the branch forked
    var nextId = 0L
    def lit(rows: Seq[(Long, String)]): String =
      rows.map { case (i, v) => s"($i, '$v')" }.mkString(", ")
    def state(ident: String): Map[Long, String] =
      sql(s"SELECT id, v FROM $ident").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0 until nOps).foreach { opIdx =>
      rng.nextInt(8) match {
        case 0 | 1 => // insert on main
          val rows = (nextId until nextId + 1 + rng.nextInt(3))
            .map(i => i -> s"m${rng.nextInt(100)}")
          nextId += rows.size
          sql(s"INSERT INTO $tbl VALUES ${lit(rows)}")
          main ++= rows
          if (dev.isDefined) mainDiverged = true
        case 2 => // predicate DML on main
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          main.filterInPlace((i, _) => i % k != r)
          if (dev.isDefined) mainDiverged = true
        case 3 | 4 => dev match { // insert/update on the branch
          case Some(d) =>
            if (rng.nextBoolean() || d.isEmpty) {
              val rows = (nextId until nextId + 1 + rng.nextInt(3))
                .map(i => i -> s"d${rng.nextInt(100)}")
              nextId += rows.size
              sql(s"INSERT INTO $tbl.branch_dev VALUES ${lit(rows)}")
              d ++= rows
            } else {
              val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
              sql(s"UPDATE $tbl.branch_dev SET v = concat(v, '*') " +
                s"WHERE id % $k = $r")
              d.mapValuesInPlace((i, v) => if (i % k == r) v + "*" else v)
            }
          case None => ()
        }
        case 5 => // (re-)fork dev from current main (needs a snapshot)
          val hasSnap = !sql(s"SELECT max(snapshot_id) FROM $tbl.snapshots")
            .collect()(0).isNullAt(0)
          if (hasSnap) {
            if (dev.isDefined) sql(s"ALTER TABLE $tbl DROP BRANCH dev")
            sql(s"ALTER TABLE $tbl CREATE BRANCH dev")
            dev = Some(scala.collection.mutable.LinkedHashMap(main.toSeq: _*))
            mainDiverged = false
          }
        case 6 => dev match { // fast_forward main to dev
          case Some(d) if !mainDiverged =>
            sql(s"CALL lake.system.fast_forward(table => 'db.$short', " +
              "branch => 'main', to => 'dev')")
            main.clear(); main ++= d
          case Some(_) => // divergent: the procedure must refuse
            val e = intercept[Exception] {
              sql(s"CALL lake.system.fast_forward(table => 'db.$short', " +
                "branch => 'main', to => 'dev')")
            }
            assert(!e.isInstanceOf[NullPointerException], e.toString)
          case None => ()
        }
        case 7 => // merge upsert on main
          val src = (nextId until nextId + 1 + rng.nextInt(2))
            .map(i => i -> s"g${rng.nextInt(100)}") ++
            rng.shuffle(main.keys.toSeq).take(math.min(2, main.size))
              .map(i => i -> s"h${rng.nextInt(100)}")
          nextId += src.count(_._2.startsWith("g"))
          sql(s"""MERGE INTO $tbl t
                 |USING (SELECT * FROM (VALUES ${lit(src)}) AS s(id, v)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = s.v
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          main ++= src
          if (dev.isDefined) mainDiverged = true
      }
      assert(state(tbl) == main.toMap,
        s"branch seed=$seed: MAIN diverged after op #$opIdx")
      dev.foreach(d => assert(state(s"$tbl.branch_dev") == d.toMap,
        s"branch seed=$seed: DEV diverged after op #$opIdx"))
    }
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: branch DML isolation and fast_forward, two seeds") {
    runBranch(seed = 71, nOps = 20)
    runBranch(seed = 103, nOps = 20)
  }

  /** Streaming CDC replay: after a random DML history, streaming
    * `tbl.changes` with Trigger.AvailableNow and folding the change
    * rows (deletes then inserts, per commit ordinal) into an empty
    * state must reconstruct the final table exactly. This checks the
    * micro-batch offset tiling end to end — a skipped, duplicated, or
    * mis-ordered commit in the stream shows up as a wrong final
    * state. MoR modes keep the per-commit diff position-exact. */
  private def runCdcReplay(seed: Long, nOps: Int): Unit = {
    val tbl = s"lake.db.fzc_$seed"
    sql(s"""CREATE TABLE $tbl (id bigint, v string) USING lake
           |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
           |'write.update.mode'='merge-on-read',
           |'write.merge.mode'='merge-on-read')""".stripMargin)
    val rng = new scala.util.Random(seed)
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    var nextId = 0L
    def lit(rows: Seq[(Long, String)]): String =
      rows.map { case (i, v) => s"($i, '$v')" }.mkString(", ")
    (0 until nOps).foreach { _ =>
      rng.nextInt(6) match {
        case 0 | 1 | 2 =>
          val rows = (nextId until nextId + 1 + rng.nextInt(4))
            .map(i => i -> s"v${rng.nextInt(100)}")
          nextId += rows.size
          sql(s"INSERT INTO $tbl VALUES ${lit(rows)}")
          model ++= rows
        case 3 =>
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          sql(s"DELETE FROM $tbl WHERE id % $k = $r")
          model.filterInPlace((i, _) => i % k != r)
        case 4 =>
          val k = 2 + rng.nextInt(3); val r = rng.nextInt(k)
          sql(s"UPDATE $tbl SET v = concat(v, '+') WHERE id % $k = $r")
          model.mapValuesInPlace((i, v) => if (i % k == r) v + "+" else v)
        case 5 =>
          val existing = rng.shuffle(model.keys.toSeq)
            .take(math.min(3, model.size))
            .map(i => i -> s"u${rng.nextInt(100)}")
          if (existing.nonEmpty) {
            sql(s"""MERGE INTO $tbl t
                   |USING (SELECT * FROM (VALUES ${lit(existing)})
                   |       AS s(id, v)) s
                   |ON t.id = s.id
                   |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
            model ++= existing
          }
      }
    }
    val sink = s"cdc_replay_$seed"
    val q = spark.readStream.table(s"$tbl.changes")
      .writeStream.format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      s"cdc seed=$seed: AvailableNow stream did not drain in 120s — " +
        "replay below would fold a PARTIAL sink")
    // fold: per ordinal, deletes first then inserts (an update pairs a
    // delete of the old row with an insert of the new in ONE commit)
    val events = sql(s"SELECT id, v, _change_type, _change_ordinal " +
      s"FROM $sink ORDER BY _change_ordinal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    val state = scala.collection.mutable.Map[(Long, String), Int]()
    events.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (_, evs) =>
      evs.filter(_._3 == "delete").foreach { case (i, v, _, _) =>
        val k = (i, v)
        state.get(k) match {
          case Some(1) => state.remove(k)
          case Some(n) => state(k) = n - 1
          case None => fail(s"cdc seed=$seed: delete of absent row $k")
        }
      }
      evs.filter(_._3 == "insert").foreach { case (i, v, _, _) =>
        state(( i, v)) = state.getOrElse((i, v), 0) + 1
      }
    }
    assert(state.values.forall(_ == 1),
      s"cdc seed=$seed: duplicate rows in replayed state")
    assert(state.keySet.map(_._1).toSeq.sorted ==
      model.keys.toSeq.sorted &&
      state.keySet == model.toSet.map((kv: (Long, String)) => kv),
      s"cdc seed=$seed: replayed state != final table model")
    sql(s"DROP TABLE $tbl")
  }

  test("fuzz: streaming CDC replay reconstructs the final state") {
    runCdcReplay(seed = 83, nOps = 12)
  }

  // ---- MV-refresh consistency mode -------------------------------
  // Random DML (inserts with NULLs, predicate delete/update, merge
  // upsert, truncate-overwrite, compaction) interleaved with
  // REFRESH MATERIALIZED VIEW ... INCREMENTAL. The MV carries the
  // full retractable shape (sum + count(v) guard + count(*)
  // liveness), so EVERY refresh must take the incremental path —
  // append merge or signed changelog merge — and the backing table
  // must equal a from-scratch recompute of the defining query after
  // each one. This is the interaction hunt for MvIncremental: CoW
  // rewrites (carry-over cancellation), MoR masks, emptied groups,
  // all-null groups, truncates, compaction no-ops.
  private def runMv(mode: String, seed: Long, nOps: Int,
      partitioned: Boolean = false): Unit = {
    val short = s"fzmv_${mode}_${if (partitioned) "p" else ""}$seed"
    val tbl = s"lake.db.$short"
    val mv = s"${short}_mv"
    val props =
      if (mode == "mor")
        """TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          |'write.update.mode'='merge-on-read',
          |'write.merge.mode'='merge-on-read')""".stripMargin
      else ""
    // partitioned variant: the MV's group key IS the partition key, so
    // fanout writes, partition-grouped row-level rewrites, and dynamic
    // overwrite file diffs all feed the changelog the signed merge reads
    val part = if (partitioned) "PARTITIONED BY (k)" else ""
    sql(s"CREATE TABLE $tbl (id bigint, v bigint, k string) USING lake $part $props")
    val defining = s"SELECT k, sum(v) AS s, count(v) AS cv, " +
      s"count(*) AS c FROM $tbl GROUP BY k"
    val rng = new scala.util.Random(seed)
    var nextId = 0L
    def freshIds(n: Int): Seq[Long] = {
      val ids = (nextId until nextId + n); nextId += n; ids
    }
    def vLit(): String =
      if (rng.nextInt(5) == 0) "CAST(NULL AS bigint)"
      else rng.nextInt(1000).toString
    def kLit(): String = s"'${('a' + rng.nextInt(4)).toChar}'"
    def rowsLit(ids: Seq[Long]): String =
      ids.map(i => s"($i, ${vLit()}, ${kLit()})").mkString(", ")

    sql(s"INSERT INTO $tbl VALUES ${rowsLit(freshIds(4))}")
    sql(s"CREATE MATERIALIZED VIEW $mv AS $defining")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq

    var opIdx = 0
    while (opIdx < nOps) {
      rng.nextInt(9) match {
        case 0 | 1 | 2 =>
          sql(s"INSERT INTO $tbl VALUES ${rowsLit(freshIds(1 + rng.nextInt(4)))}")
        case 3 | 4 =>
          val m = 2 + rng.nextInt(4)
          sql(s"DELETE FROM $tbl WHERE id % $m = ${rng.nextInt(m)}")
        case 5 =>
          val m = 2 + rng.nextInt(4)
          sql(s"UPDATE $tbl SET v = v + 1000 WHERE id % $m = ${rng.nextInt(m)}")
        case 6 =>
          val src = freshIds(2).map(i => s"($i, ${vLit()}, ${kLit()})") ++
            Seq(s"(${rng.nextLong(math.max(1L, nextId))}, ${vLit()}, ${kLit()})")
          sql(s"""MERGE INTO $tbl t
                 |USING (SELECT * FROM (VALUES ${src.mkString(", ")})
                 |       AS s(id, v, k)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = s.v, k = s.k
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        case 7 =>
          sql(s"INSERT OVERWRITE $tbl VALUES ${rowsLit(freshIds(3))}")
        case 8 =>
          sql(s"CALL lake.system.rewrite_data_files(table => 'db.$short')")
      }
      if (rng.nextInt(3) == 0 || opIdx == nOps - 1) {
        sql(s"REFRESH MATERIALIZED VIEW $mv INCREMENTAL")
        val meta = graft.mv.MvCatalog.get(mv).get
        assert(meta.lastRefreshMode == "incremental",
          s"mv $mode seed=$seed op#$opIdx: expected every refresh to " +
            s"stay incremental, got '${meta.lastRefreshMode}'")
        val got = canon(spark.table(graft.mv.MvCommands.backingName(mv)))
        val want = canon(sql(defining))
        assert(got == want,
          s"mv $mode seed=$seed op#$opIdx: backing != recompute\n" +
            s"got  $got\nwant $want")
      }
      opIdx += 1
    }
    sql(s"DROP MATERIALIZED VIEW $mv")
    sql(s"DROP TABLE $tbl")
  }

  /** Join-MV fuzz: a fact/dim pair under random appends — including
    * fact rows that reference a dim key which only arrives LATER
    * (the A_old ⋈ ΔB cross term must pick those up) — with every
    * refresh checked against a full recompute. Occasional deletes
    * flip the expectation to a full fallback; a later append range
    * must then resume incremental. */
  private def runMvJoin(seed: Long, nOps: Int): Unit = {
    val short = s"fzmvj_$seed"
    val fact = s"lake.db.${short}_f"
    val dim = s"lake.db.${short}_d"
    val mv = s"${short}_mv"
    sql(s"CREATE TABLE $fact (k string, amt bigint) USING lake")
    sql(s"CREATE TABLE $dim (k string, grp string) USING lake")
    // count(f.amt) guards the nullable sum, count(*) is the liveness
    // column — together they make the join MV fully RETRACTABLE, so
    // deletes refresh incrementally too (signed changelog terms)
    val defining = s"SELECT d.grp, sum(f.amt) AS s, count(f.amt) AS cv, " +
      s"count(*) AS c FROM $fact f JOIN $dim d ON f.k = d.k GROUP BY d.grp"
    val rng = new scala.util.Random(seed)
    var dimN = 0
    def kOf(i: Int) = s"'k$i'"
    def grpLit() = s"'g${rng.nextInt(3)}'"
    sql(s"INSERT INTO $dim VALUES (${kOf(0)}, ${grpLit()}), " +
      s"(${kOf(1)}, ${grpLit()})"); dimN = 2
    sql(s"INSERT INTO $fact VALUES (${kOf(0)}, 5), (${kOf(1)}, 7)")
    sql(s"CREATE MATERIALIZED VIEW $mv AS $defining")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    var opIdx = 0
    while (opIdx < nOps) {
      rng.nextInt(6) match {
        case 0 | 1 | 2 => // fact appends; index dimN = a key with no dim row YET
          val rows = (0 until 1 + rng.nextInt(3)).map(_ =>
            s"(${kOf(rng.nextInt(dimN + 1))}, ${rng.nextInt(100)})")
          sql(s"INSERT INTO $fact VALUES ${rows.mkString(", ")}")
        case 3 | 4 => // dim append: the fresh key may already have fact rows
          sql(s"INSERT INTO $dim VALUES (${kOf(dimN)}, ${grpLit()})")
          dimN += 1
        case 5 => // retraction: the guarded MV must retract it in-place
          sql(s"DELETE FROM $fact WHERE amt % 7 = ${rng.nextInt(7)}")
      }
      if (rng.nextInt(3) == 0 || opIdx == nOps - 1) {
        sql(s"REFRESH MATERIALIZED VIEW $mv INCREMENTAL")
        val meta = graft.mv.MvCatalog.get(mv).get
        assert(meta.lastRefreshMode == "incremental",
          s"mvjoin seed=$seed op#$opIdx: every refresh must stay " +
            s"incremental, got '${meta.lastRefreshMode}'")
        val got = canon(spark.table(graft.mv.MvCommands.backingName(mv)))
        val want = canon(sql(defining))
        assert(got == want,
          s"mvjoin seed=$seed op#$opIdx: backing != recompute\n" +
            s"got  $got\nwant $want")
      }
      opIdx += 1
    }
    sql(s"DROP MATERIALIZED VIEW $mv")
    sql(s"DROP TABLE $fact"); sql(s"DROP TABLE $dim")
  }

  test("fuzz: join-MV delta refresh tracks a full re-join") {
    runMvJoin(seed = 47, nOps = 14)
    runMvJoin(seed = 102, nOps = 10)
  }

  test("fuzz: MV incremental refresh tracks a full recompute, both modes") {
    runMv("cow", seed = 31, nOps = 16)
    runMv("mor", seed = 31, nOps = 16)
    runMv("cow", seed = 83, nOps = 10)
    runMv("mor", seed = 83, nOps = 10)
  }

  test("fuzz: MV incremental refresh on a PARTITIONED base (group = partition key)") {
    runMv("cow", seed = 59, nOps = 14, partitioned = true)
    runMv("mor", seed = 59, nOps = 14, partitioned = true)
  }

  // Opt-in soak: many seeds × longer sequences across every mode.
  // Skipped in normal runs (it would triple the suite's wall time);
  // run with FUZZ_SOAK=1 after changes to the write/commit/changelog
  // paths.
  test("fuzz soak: many seeds, long sequences (FUZZ_SOAK=1)") {
    assume(sys.env.contains("FUZZ_SOAK"))
    // default seeds are fixed for reproducibility; FUZZ_SEEDS=a,b,c
    // points a hunting run at fresh ones
    val seeds = sys.env.get("FUZZ_SEEDS")
      .map(_.split(',').toSeq.map(_.trim.toLong))
      .getOrElse(Seq(211L, 223L, 227L))
    seeds.foreach { s =>
      def step(name: String)(body: => Unit): Unit = {
        println(s"[fuzz-soak] seed=$s $name")
        body
      }
      step("cow")(run("cow", s, nOps = 30))
      step("mor")(run("mor", s, nOps = 30))
      step("evo-cow")(runEvo("cow", s, nOps = 24))
      step("evo-mor")(runEvo("mor", s, nOps = 24))
      step("nested-cow")(runNested("cow", s, nOps = 20))
      step("nested-mor")(runNested("mor", s, nOps = 20))
      step("nested-part-cow")(runNested("cow", s, nOps = 16, partitioned = true))
      step("nested-part-mor")(runNested("mor", s, nOps = 16, partitioned = true))
      step("frozen-cow")(runFrozen("cow", s, nOps = 20))
      step("frozen-mor")(runFrozen("mor", s, nOps = 20))
      step("part-cow")(runPart("cow", s, nOps = 24))
      step("part-mor")(runPart("mor", s, nOps = 24))
      step("time-cow")(runTimePart("cow", s, nOps = 20))
      step("time-mor")(runTimePart("mor", s, nOps = 20))
      step("upsert-cow")(runUpsert("cow", s, nOps = 24))
      step("upsert-mor")(runUpsert("mor", s, nOps = 24))
      step("branch")(runBranch(s, nOps = 30))
      step("cdc")(runCdcReplay(s, nOps = 16))
      step("mv-cow")(runMv("cow", s, nOps = 20))
      step("mv-mor")(runMv("mor", s, nOps = 20))
      step("mv-part-cow")(runMv("cow", s, nOps = 16, partitioned = true))
      step("mv-part-mor")(runMv("mor", s, nOps = 16, partitioned = true))
      step("mv-join")(runMvJoin(s, nOps = 16))
    }
  }
}
