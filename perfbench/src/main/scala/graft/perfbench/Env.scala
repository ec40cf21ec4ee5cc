package graft.perfbench

import java.lang.management.ManagementFactory

/** The environment a result was measured in. A run that starts with a
  * load average above the processor count is flagged, not dropped. */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private def load: Double = math.max(os.getSystemLoadAverage, 0.0)
  private val nproc = Runtime.getRuntime.availableProcessors()

  def record(cpus: Int, commit: String): Map[String, Any] = {
    val mem = os match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize
      case _ => 0L
    }
    val start = load
    scala.collection.immutable.ListMap("nproc" -> nproc, "local_n" -> cpus,
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "total_memory_bytes" -> mem, "loadavg_start" -> start,
      "overloaded_at_start" -> (start > nproc), "commit" -> commit)
  }

  def loadEnd(): Map[String, Any] = Map("loadavg_end" -> load)
}
