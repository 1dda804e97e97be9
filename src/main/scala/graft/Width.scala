package graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one shuffle-width rule (guide §2.2, scale-adaptive
  * partitioning): a stage's width follows its input's bytes instead
  * of the session constant. Every caller clamps to the session's own
  * `spark.sql.shuffle.partitions` (the cap), so a cluster-scale input
  * keeps today's parallelism and only small inputs narrow. The floors
  * are per call site because each one is measured there. */
object Width {

  /** Bytes per task of a pure query entry's multi-exchange pipeline. */
  val QueryTarget: Long = 512L << 10

  /** Source bytes per state partition of a stateful stream — streaming
    * operators get no AQE coalescing, so each configured partition costs
    * one task plus one state-store commit per micro-batch. */
  val StreamStateTarget: Long = 1L << 20

  /** Input bytes per task of a store or rollup maintenance rewrite. */
  val MaintenanceTarget: Long = 64L << 20

  /** ceil(bytes / target) clamped to [min(cap, floor), cap]. An unknown
    * size (None) returns `cap`, so a failed listing degrades to the
    * session's own width, never to the floor. Overflow-safe for any
    * byte count, Long.MaxValue included. */
  def of(bytes: Option[Long], target: Long, floor: Int, cap: Int): Int =
    bytes match {
      case None => cap
      case Some(b) =>
        val tasks = b / target + (if (b % target == 0) 0 else 1)
        math.max(math.min(cap, floor).toLong, math.min(cap.toLong, tasks)).toInt
    }

  /** Bytes of the data files at or under `paths`. Directories are
    * walked recursively (a partitioned `date=…/part-….parquet` tree
    * sums every part file); entries named `_…` or `.…` — `_SUCCESS`,
    * `.crc` checksums, `_spark_metadata`, staging dirs — are skipped.
    * None when any path cannot be stat'ed or listed. */
  def dataBytes(conf: Configuration, paths: Seq[Path]): Option[Long] =
    try Some(paths.iterator.map { p =>
      val fs = p.getFileSystem(conf)
      bytesUnder(fs, fs.getFileStatus(p))
    }.sum)
    catch { case NonFatal(_) => None }

  private def bytesUnder(fs: FileSystem, st: FileStatus): Long =
    if (!st.isDirectory) st.getLen
    else fs.listStatus(st.getPath).iterator
      .filterNot { c => val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .map(bytesUnder(fs, _)).sum
}
