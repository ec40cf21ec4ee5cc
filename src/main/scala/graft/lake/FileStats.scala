package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Per-file column statistics: harvested from parquet footers at
  * commit time (no extra scan job), consumed at planning time for
  * file-level pruning — the lake equivalent of Iceberg's
  * lower_bounds/upper_bounds skipping (reference:
  * docs/spark-queries.md:41-45, 320-326).
  *
  * Values are encoded as strings in the manifest; comparisons decode
  * by column type. Conservative throughout: any column/filter shape we
  * can't reason about keeps the file.
  */
object FileStats {

  /** Footer-harvest MANY files concurrently: footer reads are
    * IO-bound driver work, and a commit staging hundreds of files
    * (one per partition tuple) must not pay them serially. */
  /** Paths-per-commit above which footer harvesting fans out to
    * executors instead of driver threads: a backfill/CTAS commit at
    * 100 TB stages tens of thousands of files, and the footer reads
    * (IO + dictionary-page decode for value sets) must not serialize
    * through one JVM. Small commits stay on the driver — a Spark job
    * costs more than 256 local footer reads. */
  private[lake] var DistributedFooterThreshold = 256

  def fromFooters(paths: Seq[String], conf: Configuration,
      schema: StructType, epoch: Int,
      partitionValuesOf: String => Map[String, String] = _ => Map.empty)
      : Seq[DataFileMeta] = {
    if (paths.size > DistributedFooterThreshold) {
      val spark = org.apache.spark.sql.SparkSession.active
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      // ship the resolved partition tuple with each path: the lookup
      // function itself may close over driver-only state
      val tagged = paths.map(p => (p, partitionValuesOf(p)))
      spark.sparkContext
        .parallelize(tagged, math.min(64, 1 + tagged.size / 64))
        .map { case (p, pv) => fromFooter(p, sconf.value, schema, epoch, pv) }
        .collect().toSeq
    } else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(paths)(p =>
        Future(fromFooter(p, conf, schema, epoch, partitionValuesOf(p)))),
        Duration.Inf)
    }
  }

  /** Read row count + min/max/null-counts for one parquet file. */
  def fromFooter(path: String, conf: Configuration, schema: StructType,
      epoch: Int, partitionValues: Map[String, String]): DataFileMeta = {
    val in = HadoopInputFile.fromPath(new Path(path), conf)
    // the caller's conf: open(in) alone parses a fresh Configuration
    // (Hadoop's default XML) for every footer
    val reader = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map[String, String]()
      val maxs = scala.collection.mutable.Map[String, String]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        // harvest every leaf the schema can resolve — top-level
        // columns AND struct-nested paths (a filter on `a.b` prunes
        // files exactly like one on a top-level column); leaves under
        // arrays/maps don't resolve and are skipped
        if (resolvePath(schema, name).isDefined) {
          val st = c.getStatistics
          if (st != null && !st.isEmpty) {
            nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
            if (st.hasNonNullValue) {
              val dt = typeOf(schema, name)
              val (mn, mx) =
                (encode(st.genericGetMin, dt), encode(st.genericGetMax, dt))
              mins(name) = mins.get(name) match {
                case Some(cur) => if (lt(mn, cur, dt)) mn else cur
                case None => mn
              }
              maxs(name) = maxs.get(name) match {
                case Some(cur) => if (lt(cur, mx, dt)) mx else cur
                case None => mx
              }
            }
          }
        }
      }
      // the file's length (the open already statted it), footer included
      DataFileMeta(path, rowCount, in.getLength, epoch,
        mins.toMap, maxs.toMap, nulls.toMap, partitionValues,
        valueSets = harvestValueSets(reader, blocks.toSeq, schema),
        blooms = harvestBlooms(reader, blocks.toSeq))
    } finally reader.close()
  }

  /** Footer-stat string space. Decimals encode as their UNSCALED
    * integer — parquet statistics carry the raw physical value (an
    * int/long, or the big-endian unscaled bytes for binary-backed
    * precision), never a scaled decimal; [[encodeLiteral]] scales
    * filter literals into the same space. */
  private def encode(v: Any, dt: DataType): String = (v, dt) match {
    case (b: org.apache.parquet.io.api.Binary, _: DecimalType) =>
      new java.math.BigInteger(b.getBytes).toString
    case (b: org.apache.parquet.io.api.Binary, _) => b.toStringUsingUTF8
    case (x, _) => String.valueOf(x)
  }

  /** Resolve a footer/filter column name to its schema type. Accepts
    * top-level names (exact, case-insensitive — including names that
    * happen to contain a literal dot) and dotted struct paths
    * (`a.b.c`), the form BOTH parquet's `ColumnPath.toDotString` and
    * Spark's nested V1-Filter attributes use — which is what lets one
    * name space serve harvest and probe. Paths through arrays/maps
    * resolve to None: parquet spells their leaves `arr.list.element`,
    * and a repeated leaf's min/max cannot prune a row-level predicate
    * anyway. (Dot-strings are ambiguous in principle — a struct field
    * literally named "list" collides with the array spelling; Iceberg
    * proper avoids this with field IDs. Both sides of this resolver
    * see the same interpretation, so harvest and probe stay
    * consistent.) */
  private[lake] def resolvePath(schema: StructType, name: String)
      : Option[DataType] = {
    schema.find(_.name.equalsIgnoreCase(name)).map(_.dataType).orElse {
      val parts = name.split('.')
      if (parts.length < 2) None
      else parts.foldLeft(Option(schema: DataType)) {
        case (Some(st: StructType), p) =>
          st.find(_.name.equalsIgnoreCase(p)).map(_.dataType)
        case _ => None
      }
    }
  }

  private def typeOf(schema: StructType, name: String): DataType =
    resolvePath(schema, name).getOrElse(StringType)

  /** Compare encoded stats values under a column type; false if unsure. */
  private def lt(a: String, b: String, dt: DataType): Boolean =
    cmp(a, b, dt).exists(_ < 0)

  /** Unsigned UTF-8 byte comparison — the order parquet's binary
    * min/max statistics are computed under. */
  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[lake] def cmp(a: String, b: String, dt: DataType): Option[Int] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case FloatType | DoubleType =>
        val x = a.toDouble
        val y = b.toDouble
        // NaN: no claim. parquet-mr omits min/max entirely when a page
        // saw NaN, but files IMPORTED via add_files/migrate come from
        // arbitrary writers (old parquet-cpp wrote NaN into stats) —
        // a total-order compare against such stats would prune files
        // whose rows match. ±0.0: primitive == makes them equal, the
        // SQL semantics; Double.compare would order them and prune a
        // foreign file whose only value is the other zero.
        if (x.isNaN || y.isNaN) None
        else if (x == y) Some(0)
        else Some(java.lang.Double.compare(x, y))
      case _: DecimalType =>
        Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
      case BooleanType => Some(a.toBoolean.compareTo(b.toBoolean))
      // UNSIGNED UTF-8 BYTE order, NOT String.compareTo: parquet
      // min/max for strings are unsigned-byte-lexicographic (= code
      // point order), while Java compareTo is UTF-16 code-unit order.
      // The two disagree whenever supplementary characters (emoji,
      // rare CJK) meet U+E000..U+FFFF: surrogates sort below +
      // in UTF-16 but supplementary code points sort ABOVE all BMP in
      // byte order — comparing across orders pruned files whose rows
      // matched (`c > '￿'` returned 0 rows on a file holding
      // U+1F600; FileStatsSoundnessSuite pins the repro).
      case StringType | _: CharType | _: VarcharType => Some(utf8Cmp(a, b))
      // Parquet stores date as epoch-day int, timestamp as long micros —
      // both footer-encoded as numeric strings, filter literals likewise
      // (see encodeLiteral), so numeric compare is exact.
      case DateType => Some(java.lang.Long.compare(a.toLong, b.toLong))
      case TimestampType | TimestampNTZType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      // ANSI intervals: parquet stores year-month as INT32 total
      // months and day-time as INT64 total micros (the Spark internal
      // encodings) — a plain total order with no NaN/±0/byte-order
      // hazard, so numeric compare is exact. The interval seam audit
      // (r9) found every consumer declining; this is the one claim
      // that is sound to make.
      case _: YearMonthIntervalType | _: DayTimeIntervalType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case _ => None
    } catch { case _: Exception => None }

  /** Encode a filter literal into the same string space as footer stats.
    * Decimal literals rescale to the column's scale and encode UNSCALED
    * (matching [[encode]]); a literal the column scale cannot represent
    * exactly yields None — the caller then keeps the file, and Spark's
    * own filter still evaluates exactly. */
  private[lake] def encodeLiteral(v: Any, dt: DataType): Option[String] =
    (v, dt) match {
      case (null, _) => None
      case (x, dec: DecimalType) =>
        val bd = x match {
          case b: java.math.BigDecimal => Some(b)
          case b: scala.math.BigDecimal => Some(b.bigDecimal)
          case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
          case _ => None
        }
        bd.flatMap(b => scala.util.Try(
          b.setScale(dec.scale).unscaledValue.toString).toOption)
      case (d: java.sql.Date, _) => Some(d.toLocalDate.toEpochDay.toString)
      case (d: java.time.LocalDate, _) => Some(d.toEpochDay.toString)
      case (t: java.sql.Timestamp, _) =>
        Some((t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString)
      case (t: java.time.Instant, _) =>
        Some((t.getEpochSecond * 1000000L + t.getNano / 1000).toString)
      // TimestampNTZ literals arrive as LocalDateTime; parquet stores
      // NTZ as micros of the wall-clock value (zone-free = epoch at
      // UTC), so encode the same way — without this case the literal
      // fell through to toString and NTZ filters never pruned
      case (t: java.time.LocalDateTime, _) =>
        Some((t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000).toString)
      // ANSI interval literals arrive as java.time values; encode into
      // the same integer space the footer carries (INT32 total months /
      // INT64 total micros). Spark's year-month Period always has
      // days == 0; micros arithmetic is exact-checked so an extreme
      // duration declines instead of wrapping.
      case (p: java.time.Period, _: YearMonthIntervalType) =>
        Some(p.toTotalMonths.toString)
      case (dur: java.time.Duration, _: DayTimeIntervalType) =>
        scala.util.Try(Math.addExact(
          Math.multiplyExact(dur.getSeconds, 1000000L),
          (dur.getNano / 1000).toLong).toString).toOption
      // float/double NaN: no stats claim is sound (see cmp) — parquet-mr
      // omits min/max for NaN pages, but the literal side must decline
      // too or `= NaN` probes prune imported files with NaN-bearing stats
      case (f: java.lang.Float, _) if f.isNaN => None
      case (d: java.lang.Double, _) if d.isNaN => None
      case (other, _) => Some(other.toString)
    }

  // Value-set harvest caps: sets stay metadata-sized at 100 TB (a
  // million-file manifest must not grow by more than a few GB, and the
  // spill is columnar + distributed-pruned anyway). A column whose
  // dictionary exceeds the value cap carries no set — min/max still
  // applies.
  private val MaxSetValues = 64
  private val MaxSetBytesPerFile = 4096

  /** Exact distinct-value sets from parquet DICTIONARY PAGES — the
    * file-level lift of parquet's own row-group dictionary filtering.
    * A column qualifies only when every page of every row group is
    * dictionary-encoded (EncodingStats proves no plain fallback), so
    * the union of dictionaries is a superset of the column's values
    * and membership tests are exact. Runs at commit time next to the
    * footer read; planning pays nothing. */
  private def harvestValueSets(reader: ParquetFileReader,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      schema: StructType): Map[String, Seq[String]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (blocks.isEmpty) return Map.empty
    val descs = reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
      .filter(_.getPath.length == 1)
    val eligible = descs.filter { d =>
      val name = d.getPath()(0)
      val dictComplete = blocks.forall { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == name).exists { c =>
          val es = c.getEncodingStats
          es != null && es.hasDictionaryPages && !es.hasNonDictionaryEncodedPages
        }
      }
      dictComplete && (typeOf(schema, name) match {
        case StringType | _: CharType | _: VarcharType |
             ByteType | ShortType | IntegerType | LongType |
             DateType | TimestampType | TimestampNTZType |
             FloatType | DoubleType | _: DecimalType => true
        // intervals dictionary-encode as INT32 months / INT64 micros —
        // the same strings encodeLiteral produces for the probe
        case _: YearMonthIntervalType | _: DayTimeIntervalType => true
        case _ => false
      })
    }
    if (eligible.isEmpty) return Map.empty
    var budget = MaxSetBytesPerFile
    val out = Map.newBuilder[String, Seq[String]]
    val stores: Seq[org.apache.parquet.column.page.DictionaryPageReadStore] =
      blocks.map(reader.getDictionaryReader(_)
        : org.apache.parquet.column.page.DictionaryPageReadStore)
    for (d <- eligible if budget > 0) {
      try {
        val dt = typeOf(schema, d.getPath()(0))
        val isDecimal = dt.isInstanceOf[DecimalType]
        val values = scala.collection.mutable.LinkedHashSet[String]()
        var ok = true
        for (store <- stores if ok) {
          val page = store.readDictionaryPage(d)
          if (page == null) ok = false
          else {
            val dict = page.getEncoding.initDictionary(d, page)
            var i = 0
            val n = dict.getMaxId + 1
            while (i < n && ok) {
              val s = d.getPrimitiveType.getPrimitiveTypeName match {
                case BINARY | FIXED_LEN_BYTE_ARRAY if isDecimal =>
                  new java.math.BigInteger(
                    dict.decodeToBinary(i).getBytes).toString
                case BINARY => dict.decodeToBinary(i).toStringUsingUTF8
                case INT32 => String.valueOf(dict.decodeToInt(i))
                case INT64 => String.valueOf(dict.decodeToLong(i))
                case FLOAT => String.valueOf(dict.decodeToFloat(i))
                case DOUBLE => String.valueOf(dict.decodeToDouble(i))
                case _ => null
              }
              if (s == null) ok = false
              else {
                values += s
                if (values.size > MaxSetValues) ok = false
              }
              i += 1
            }
          }
        }
        if (ok && values.nonEmpty) {
          val bytes = values.iterator.map(_.length + 8).sum
          if (bytes <= budget) {
            budget -= bytes
            out += d.getPath()(0) -> values.toSeq
          }
        }
      } catch { case _: Exception => () } // conservative: no set, no claim
    }
    out.result()
  }

  // Manifest-bloom harvest cap: blooms are the fattest per-file stat,
  // so only explicitly opted-in columns have them (the parquet writer
  // emits blooms solely for `write.parquet.bloom-filter-enabled.
  // column.<col>`). The budget is PER COLUMN SET, smallest columns
  // first: candidates are sorted by encoded size (name tie-break) and
  // admitted greedily, so one fat column can only starve a fatter
  // one — never a cheaper one that would have fit — and which columns
  // carry manifest blooms is deterministic regardless of parquet
  // schema order. Dropped columns are logged once per file; their
  // row-group-level skipping inside the scan still applies. Size the
  // write-side blooms with `write.parquet.bloom-filter-
  // expected-ndv.column.<col>` — at the parquet default FPP, NDV 1024
  // is ~1.2 KB per row group.
  private val MaxBloomBytesPerFile = 64 * 1024

  /** Lift the parquet writer's own column bloom filters into the
    * manifest, so point predicates skip files at PLANNING time — at
    * 100 TB a needle lookup on an unsorted high-NDV column otherwise
    * schedules a scan task for every file: min/max spans everything,
    * and dictionaries cap out at [[MaxSetValues]]. Stored per column
    * as (physical-type tag, per-row-group base64 bitsets): the tag
    * tells the probe how to hash the literal (parquet's xxhash is
    * typed), and a file may contain the value only if EVERY row
    * group's bloom is consulted — any one admitting it keeps the
    * file. */
  private def harvestBlooms(reader: ParquetFileReader,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData])
      : Map[String, Seq[String]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    if (blocks.isEmpty) return Map.empty
    val byName = blocks.map(b =>
      b.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap)
    // only top-level columns of bloom-hashable physical types; the
    // column must carry a bloom in EVERY row group or the file-level
    // claim is unsound for rows in the uncovered groups
    val names = blocks.head.getColumns.asScala
      .map(_.getPath.toDotString).filter(!_.contains('.'))
    val candidates = names.flatMap { name =>
      try {
        val cols = byName.flatMap(_.get(name))
        if (cols.size != blocks.size) None
        else {
          val tag = cols.head.getPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 => "INT32"
            case PrimitiveTypeName.INT64 => "INT64"
            case PrimitiveTypeName.FLOAT => "FLOAT"
            case PrimitiveTypeName.DOUBLE => "DOUBLE"
            case PrimitiveTypeName.BINARY => "BINARY"
            case _ => null // FIXED_LEN (decimals), INT96: no probe path
          }
          if (tag == null) None
          else {
            val bits = blocks.zip(cols).map { case (b, c) =>
              Option(reader.getBloomFilterDataReader(b).readBloomFilter(c))
                .map { bf =>
                  val bos = new java.io.ByteArrayOutputStream(bf.getBitsetSize)
                  bf.writeTo(bos)
                  bos.toByteArray
                }
            }
            if (!bits.forall(_.isDefined)) None
            else {
              val raw = bits.flatten
              Some((name, raw.map(_.length).sum, tag +: raw.map(
                java.util.Base64.getEncoder.encodeToString)))
            }
          }
        }
      } catch { case _: Exception => None } // conservative: no bloom, no claim
    }
    // smallest-first greedy admission: deterministic (size, name)
    // order, so schema position never decides which opted-in columns
    // get manifest blooms, and a drop is logged instead of silent
    var budget = MaxBloomBytesPerFile
    val out = Map.newBuilder[String, Seq[String]]
    candidates.sortBy { case (n, sz, _) => (sz, n) }.foreach {
      case (name, sz, enc) =>
        if (sz <= budget) {
          budget -= sz
          out += name -> enc
        } else {
          log.warn(s"manifest bloom for column '$name' dropped: " +
            s"$sz bytes exceeds remaining budget $budget of " +
            s"$MaxBloomBytesPerFile (row-group blooms still apply)")
        }
    }
    out.result()
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Probe a manifest bloom: may `file` contain `v` in column `a`?
    * True (no claim) when the column has no bloom, the literal cannot
    * be mapped onto the tagged physical type, or any row-group bloom
    * admits the hash. The literal→physical mapping mirrors Spark's
    * parquet writer (dates = epoch-day INT32, timestamps = micros
    * INT64, strings = UTF-8 binary); an unexpected pairing makes no
    * claim rather than guessing. */
  // Decoded-bloom LRU: an IN list (or DPP's runtime filter with
  // hundreds of keys) probes the same blooms once per value, and every
  // planning round probes the same files again — decoding the base64
  // bitset each time is pure allocation churn. Keyed by the base64
  // text itself (content-addressed, so no invalidation); probes
  // (findHash) are read-only absolute gets, safe to share.
  private val MaxDecodedBlooms = 1024
  private val decodedBlooms: java.util.Map[String,
      org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String,
          org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter](
          16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String,
            org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter])
            : Boolean = size() > MaxDecodedBlooms
      })

  private def decodeBloom(b64: String)
      : org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter = {
    val hit = decodedBlooms.get(b64)
    if (hit != null) return hit
    val bf = new org.apache.parquet.column.values.bloomfilter
      .BlockSplitBloomFilter(java.util.Base64.getDecoder.decode(b64))
    decodedBlooms.put(b64, bf)
    bf
  }

  private def bloomMayContain(file: DataFileMeta, a: String, v: Any,
      dt: DataType): Boolean = file.blooms.get(a) match {
    case None => true
    case Some(tagged) if tagged.size < 2 => true
    case Some(tagged) =>
      val tag = tagged.head
      try {
        // hashing is bitset-independent; any decoded filter can hash
        val hasher = decodeBloom(tagged(1))
        // candidate hashes: None = no claim (keep the file); a file may
        // contain the value iff ANY row-group bloom admits ANY hash.
        // ±0.0 need BOTH zero bit patterns — Spark's `=` treats them
        // equal, and parquet normalizes ±0.0 in min/max stats but NOT
        // in bloom hashes, so a single-pattern probe would be the one
        // false negative this mechanism can produce. NaN: no claim.
        val hashes: Option[Seq[Long]] = (tag, v, dt) match {
          case ("INT32", n: Number, ByteType | ShortType | IntegerType) =>
            Some(Seq(hasher.hash(n.intValue())))
          case ("INT32", d: java.sql.Date, _) =>
            Some(Seq(hasher.hash(d.toLocalDate.toEpochDay.toInt)))
          case ("INT32", d: java.time.LocalDate, _) =>
            Some(Seq(hasher.hash(d.toEpochDay.toInt)))
          case ("INT64", n: Number, LongType) =>
            Some(Seq(hasher.hash(n.longValue())))
          case ("INT64", t: java.sql.Timestamp, _) =>
            Some(Seq(hasher.hash(t.getTime * 1000L + (t.getNanos / 1000) % 1000)))
          case ("INT64", t: java.time.Instant, _) =>
            Some(Seq(hasher.hash(t.getEpochSecond * 1000000L + t.getNano / 1000)))
          case ("FLOAT", n: Number, FloatType) =>
            val f0 = n.floatValue()
            if (f0.isNaN) None
            else if (f0 == 0.0f) Some(Seq(hasher.hash(0.0f), hasher.hash(-0.0f)))
            else Some(Seq(hasher.hash(f0)))
          case ("DOUBLE", n: Number, DoubleType) =>
            val d0 = n.doubleValue()
            if (d0.isNaN) None
            else if (d0 == 0.0d) Some(Seq(hasher.hash(0.0d), hasher.hash(-0.0d)))
            else Some(Seq(hasher.hash(d0)))
          case ("BINARY", s: String, StringType | _: CharType | _: VarcharType) =>
            Some(Seq(hasher.hash(
              org.apache.parquet.io.api.Binary.fromString(s))))
          case _ => None
        }
        hashes match {
          case None => true
          case Some(hs) =>
            hs.exists(hasher.findHash) ||
              tagged.drop(2).exists { b64 =>
                val bf = decodeBloom(b64)
                hs.exists(bf.findHash)
              }
        }
      } catch { case _: Exception => true }
  }

  /** Can `file` possibly contain rows matching `filter`? Its footer
    * stats, value sets and blooms must admit every comparison, and so
    * must its recorded partition tuple under `parts`. */
  def mayMatch(file: DataFileMeta, filter: Filter, schema: StructType,
      parts: PartitionPruning = PartitionPruning.none): Boolean = {
    def stats(attr: String): (Option[String], Option[String], Option[Long], DataType) = {
      val dt = typeOf(schema, attr)
      (file.minValues.get(attr), file.maxValues.get(attr),
        file.nullCounts.get(attr), dt)
    }
    filter match {
      case EqualTo(a, v) =>
        val (mn, mx, _, dt) = stats(a)
        encodeLiteral(v, dt).forall { lit =>
          mn.forall(m => cmp(lit, m, dt).forall(_ >= 0)) &&
          mx.forall(m => cmp(lit, m, dt).forall(_ <= 0)) &&
          // dictionary value set: exact membership when present
          file.valueSets.get(a).forall(_.exists(x =>
            cmp(lit, x, dt).map(_ == 0).getOrElse(lit == x))) &&
          // manifest bloom: probabilistic membership for high-NDV
          // columns (no false negatives, so skipping is sound)
          bloomMayContain(file, a, v, dt)
        } && parts.admits(file, filter)
      case GreaterThan(a, v) =>
        val (_, mx, _, dt) = stats(a)
        encodeLiteral(v, dt).forall(lit =>
          mx.forall(m => cmp(lit, m, dt).forall(_ < 0))) &&
          parts.admits(file, filter)
      case GreaterThanOrEqual(a, v) =>
        val (_, mx, _, dt) = stats(a)
        encodeLiteral(v, dt).forall(lit =>
          mx.forall(m => cmp(lit, m, dt).forall(_ <= 0))) &&
          parts.admits(file, filter)
      case LessThan(a, v) =>
        val (mn, _, _, dt) = stats(a)
        encodeLiteral(v, dt).forall(lit =>
          mn.forall(m => cmp(lit, m, dt).forall(_ > 0))) &&
          parts.admits(file, filter)
      case LessThanOrEqual(a, v) =>
        val (mn, _, _, dt) = stats(a)
        encodeLiteral(v, dt).forall(lit =>
          mn.forall(m => cmp(lit, m, dt).forall(_ >= 0))) &&
          parts.admits(file, filter)
      case In(a, vs) =>
        vs.isEmpty || vs.exists(v => mayMatch(file, EqualTo(a, v), schema, parts))
      case IsNull(a) =>
        val (_, _, nulls, _) = stats(a)
        nulls.forall(_ > 0) || file.rowCount == 0
      case IsNotNull(a) =>
        val (_, _, nulls, _) = stats(a)
        nulls.forall(_ < file.rowCount)
      case StringStartsWith(a, prefix) =>
        val (mn, mx, _, dt) = stats(a)
        val stringly = dt match {
          case StringType | _: CharType | _: VarcharType => true
          case _ => false
        }
        // prefix probes run in the SAME unsigned-byte order the
        // footer min/max were computed under (see cmp): truncate the
        // bound to the prefix's BYTE length and compare unsigned — a
        // UTF-16 compareTo here has the same supplementary-character
        // unsoundness the equality path had
        def bytePrefixLe(m: String, geq: Boolean): Boolean = {
          val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mb = m.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val t = java.util.Arrays.compareUnsigned(mb.take(pb.length), pb)
          if (geq) t >= 0 else t <= 0
        }
        !stringly ||
          (mn.forall(m => bytePrefixLe(m, geq = false)) &&
            mx.forall(m => bytePrefixLe(m, geq = true)) &&
            file.valueSets.get(a).forall(_.exists(_.startsWith(prefix))))
      case And(l, r) =>
        mayMatch(file, l, schema, parts) && mayMatch(file, r, schema, parts)
      case Or(l, r) =>
        mayMatch(file, l, schema, parts) || mayMatch(file, r, schema, parts)
      case _ => true
    }
  }

  /** Planning-time file pruning. `renames` carries the per-epoch
    * current→epoch name maps (LakeScans.statRenames): a file's footer
    * stats were harvested under the names of ITS schema epoch, so a
    * filter on a renamed column must probe the epoch name — and a
    * dropped-and-re-added column maps to the absent-sentinel, whose
    * stats lookups miss and keep the file. Probing current names
    * directly is not just imprecise, it is UNSOUND: after a rename
    * swap (x→tmp, y→x) the current name matches a DIFFERENT column's
    * stats, and after drop/re-add `IS NULL` sees the dead column's
    * zero null count — both prune files whose rows match (wrong
    * results, caught by EvolutionPruneSuite). Callers without
    * evolution (single-epoch tables) pass nothing and take the fast
    * path. `parts` adds the partition-tuple check
    * ([[PartitionPruning.of]] the table); partition values are keyed by
    * field name, so epoch renames do not touch it. */
  def prune(files: Seq[DataFileMeta], filters: Seq[Filter],
      schema: StructType,
      renames: Map[Int, Map[String, String]] = Map.empty,
      parts: PartitionPruning = PartitionPruning.none)
      : Seq[DataFileMeta] = {
    if (renames.isEmpty)
      files.filter(f => filters.forall(mayMatch(f, _, schema, parts)))
    else {
      val byEpoch: Map[Int, (Seq[Filter], StructType)] =
        renames.map { case (e, rn) =>
          e -> (filters.flatMap(LakeScans.renameFilter(_, rn)),
            LakeScans.mapNamesDotted(schema, rn))
        }
      files.filter { f =>
        val (fs, sch) = byEpoch.getOrElse(f.schemaEpoch, (filters, schema))
        fs.forall(mayMatch(f, _, sch, parts))
      }
    }
  }
}
