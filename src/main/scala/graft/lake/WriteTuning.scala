package graft.lake

/** Write-side parquet tuning, property-driven per table (reference
  * surface: Iceberg's `write.parquet.*` table properties,
  * docs/spark-getting-started.md configuration section).
  *
  * At 100 TB the difference between snappy and zstd is tens of
  * terabytes on disk, and a point-lookup join against a fact table is
  * a full scan without column bloom filters — these knobs are part of
  * the scale story, not cosmetics. All of them ride Spark's own
  * parquet writer, through the engine's one data-file writer
  * ([[LakeFanoutWrite]]), so every data file of the table carries them,
  * whether an INSERT, a row-level DML or a rewrite (compaction, mask
  * fold) writes it:
  *
  *  - `write.parquet.compression-codec` → the `compression` write
  *    option (zstd | snappy | gzip | lz4 | uncompressed | …);
  *  - `write.parquet.row-group-size-bytes` → `parquet.block.size`;
  *  - `write.parquet.page-size-bytes` → `parquet.page.size`;
  *  - `write.parquet.bloom-filter-enabled.column.<col>` →
  *    `parquet.bloom.filter.enabled#<col>` (read back automatically by
  *    Spark's vectorized reader for pushed point predicates, AND
  *    lifted into the manifest at commit time for planning-level file
  *    skipping — [[FileStats]]);
  *  - `write.parquet.bloom-filter-expected-ndv.column.<col>` →
  *    `parquet.bloom.filter.expected.ndv#<col>` (sizes the bloom;
  *    without it parquet reserves the 1 MB max, too fat to lift);
  *  - `write.parquet.dict-enabled.column.<col>` →
  *    `parquet.enable.dictionary#<col>`;
  *  - `write.target-file-size-bytes` → roll-over threshold of the
  *    fanout writer (see [[LakeFanoutDataWriter]]).
  *
  * The writer sets the hadoop keys ([[hadoopOptions]]) on its job conf
  * and hands the `compression` option ([[options]]) to the parquet
  * format's prepareWrite.
  */
object WriteTuning {

  val Compression = "write.parquet.compression-codec"
  val RowGroupSize = "write.parquet.row-group-size-bytes"
  val PageSize = "write.parquet.page-size-bytes"
  val BloomPrefix = "write.parquet.bloom-filter-enabled.column."
  val BloomNdvPrefix = "write.parquet.bloom-filter-expected-ndv.column."
  val DictPrefix = "write.parquet.dict-enabled.column."
  val TargetFileSize = "write.target-file-size-bytes"
  val DefaultTargetFileSize: Long = 512L * 1024 * 1024

  /** Hadoop-conf-keyed tunables (parquet-hadoop property names). */
  def hadoopOptions(meta: TableMeta): Map[String, String] =
    meta.properties.get(RowGroupSize).map("parquet.block.size" -> _).toMap ++
      meta.properties.get(PageSize).map("parquet.page.size" -> _).toMap ++
      meta.properties.collect {
        case (k, v) if k.startsWith(BloomPrefix) =>
          s"parquet.bloom.filter.enabled#${k.stripPrefix(BloomPrefix)}" -> v
      } ++
      // sizes the written bloom (parquet default is 1 MB max — far too
      // fat to lift into the manifest; at the default FPP, NDV 1024 is
      // ~1.2 KB/row group, which the manifest harvest accepts)
      meta.properties.collect {
        case (k, v) if k.startsWith(BloomNdvPrefix) =>
          s"parquet.bloom.filter.expected.ndv#${k.stripPrefix(BloomNdvPrefix)}" -> v
      } ++
      // per-column dictionary toggle: a high-NDV column's dictionary
      // pages are pure overhead (and parquet drops the bloom filter
      // for fully dictionary-encoded chunks — the dictionary already
      // answers membership exactly)
      meta.properties.collect {
        case (k, v) if k.startsWith(DictPrefix) =>
          s"parquet.enable.dictionary#${k.stripPrefix(DictPrefix)}" -> v
      }

  /** DataSource-level parquet write options: the codec, plus the
    * Hadoop-keyed tunables. */
  def options(meta: TableMeta): Map[String, String] =
    meta.properties.get(Compression).map("compression" -> _).toMap ++
      hadoopOptions(meta)

  def targetFileSize(meta: TableMeta): Long =
    meta.properties.get(TargetFileSize).flatMap(v =>
      scala.util.Try(v.toLong).toOption).filter(_ > 0)
      .getOrElse(DefaultTargetFileSize)
}
