package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** The Hadoop-conf broadcast of lake parquet reader and writer
  * factories, one per distinct read or write configuration.
  *
  * Spark's `ParquetScan.createReaderFactory` broadcasts its filled conf
  * on every call, and a planned statement calls it at least twice (two
  * `BatchScanExec` copies). Each broadcast serializes ~1k entries and
  * allocates a 4 MB torrent chunk, which is most of a point read's
  * allocation. A reader factory takes its broadcast from here instead:
  * repeated reads pay once per distinct (context, conf content). So
  * does every data-file writer ([[LakeFanoutWrite]]), whose conf a
  * write task would otherwise deserialize inline, ~1k entries per task.
  *
  * The key is the conf's every entry, not a hash of it: the requested
  * schema, the session time zone and any `spark.hadoop.*` setting are
  * entries, so a changed one broadcasts anew. The value is the
  * broadcast of a private copy, so later writes to the caller's conf
  * never reach a cached broadcast. Entries of a stopped context are
  * dropped, never returned. An evicted broadcast is not destroyed: a
  * plan may still hold it, and Spark's context cleaner removes it once
  * nothing does. */
private[lake] object ConfBroadcasts {

  private val MaxEntries = 16

  private final case class Key(sc: SparkContext, entries: Map[String, String])

  private val cache =
    new java.util.LinkedHashMap[Key, Broadcast[SerializableConfiguration]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Broadcast[SerializableConfiguration]]): Boolean =
        size() > MaxEntries
    }

  private val created = new java.util.concurrent.atomic.AtomicLong(0)

  /** Broadcasts made so far (cache misses), for tests. */
  private[lake] def createdCount: Long = created.get()

  def apply(sc: SparkContext, conf: Configuration): Broadcast[SerializableConfiguration] = {
    val key = Key(sc, conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    cache.synchronized {
      cache.keySet().removeIf(_.sc.isStopped)
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val b = sc.broadcast(new SerializableConfiguration(new Configuration(conf)))
        created.incrementAndGet()
        cache.put(key, b)
        b
      }
    }
  }
}
