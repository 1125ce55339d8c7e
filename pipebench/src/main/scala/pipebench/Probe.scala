package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLongArray

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Local file system that counts the operations the state layer issues
  * and otherwise delegates unchanged. Installed with
  * `spark.hadoop.fs.file.impl` for traced runs only; the scheme stays
  * `file`, so code that branches on it behaves as with the stock class.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    bump(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump(Rename); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump(Delete); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump(Mkdirs); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    bump(Mkdirs); super.mkdirs(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    bump(List); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    bump(Status); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump(Open); super.open(f, bufferSize)
  }
}

object CountingFs {
  val Names: Vector[String] =
    Vector("create", "rename", "delete", "mkdirs", "list", "status", "open")
  val Create = 0; val Rename = 1; val Delete = 2; val Mkdirs = 3
  val List = 4; val Status = 5; val Open = 6
  private val counts = new AtomicLongArray(Names.size)
  @volatile var enabled = false
  private def bump(i: Int): Unit = if (enabled) counts.incrementAndGet(i): Unit
  def read(): Vector[Long] = Names.indices.map(counts.get).toVector
}

/** One finished Spark action as a QueryExecutionListener sees it: the
  * callback time is its end, `durNs` its length, plus the write and scan
  * metrics of its physical plan.
  */
final case class Action(name: String, endNs: Long, durNs: Long,
                        rowsWritten: Long, bytesWritten: Long,
                        filesWritten: Long, partsWritten: Long,
                        stateRowsRead: Long) {
  def startNs: Long = endNs - durNs
}

/** Records every action of the session while `on`; `stateRoot` names the
  * directory whose parquet scans count as state reads.
  */
final class ActionLog extends QueryExecutionListener {
  private object Plans extends AdaptiveSparkPlanHelper
  private val q = new ConcurrentLinkedQueue[Action]()
  @volatile var on = false
  @volatile var stateRoot = "\u0000"
  @volatile private var sentinelSeen = ""

  private def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
                     k: String): Long = m.get(k).map(_.value).getOrElse(0L)

  private def record(name: String, qe: QueryExecution, durNs: Long): Unit = {
    val end = Clock.nowNs()
    val plan = qe.executedPlan
    val writes = Plans.collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }
    val reads = Plans.collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(stateRoot)) =>
        metric(s.metrics, "numOutputRows")
    }
    q.add(Action(name, end, durNs,
      writes.map(metric(_, "numOutputRows")).sum,
      writes.map(metric(_, "numOutputBytes")).sum,
      writes.map(metric(_, "numFiles")).sum,
      writes.map(metric(_, "numParts")).sum,
      reads.sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val text = qe.logical.toString
    if (text.contains("pipebench_sentinel_")) {
      sentinelSeen = "pipebench_sentinel_(\\d+)".r.findFirstIn(text).getOrElse("")
    } else if (on) record(funcName, qe, durationNs)
  }

  // a failed action fails its micro-batch, which fails the run
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Wait until every action before this call has been delivered: the
    * listener bus is ordered, so a marker action's arrival proves it.
    */
  def drain(spark: SparkSession): Unit = {
    val tag = s"pipebench_sentinel_${System.nanoTime()}"
    spark.range(1).selectExpr(s"'$tag' AS s").collect()
    val deadline = System.nanoTime() + 60e9.toLong
    while (sentinelSeen != tag && System.nanoTime() < deadline) Thread.sleep(5)
    require(sentinelSeen == tag, "listener bus did not drain within 60 s")
  }

  def take(): Vector[Action] = {
    val out = Vector.newBuilder[Action]
    var a = q.poll()
    while (a != null) { out += a; a = q.poll() }
    out.result()
  }
}

/** Epoch-aligned nanosecond clock, so spans from System.nanoTime and
  * Spark's millisecond progress timestamps share one time line.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def ofMs(ms: Long): Long = ms * 1000000L
}

/** A timed interval of one layer. `parent` is the index of the enclosing
  * span in the same trace (-1 for a root), `trigger` the micro-batch id
  * (-1 outside triggers). `fs` holds the FS-op counts that fell inside.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
                      trigger: Long, fs: Vector[Long] = Vector.empty) {
  def durNs: Long = endNs - startNs
}

object Trace {
  /** Spans whose self time no layer explains. */
  val Unattributed: Set[String] = Set("stream.trigger", "stream.start", "stream.stop")
}

/** Spans kept in memory and written out once, when the run ends. */
final class Trace {
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Int = { spans += s; spans.size - 1 }

  /** Self time in ns per span name inside [from, to]: each span is
    * clipped to its parent and the window, and every instant goes to the
    * innermost spans open at it, split evenly where several run at once
    * (parallel copy actions), so the self times add up to the time some
    * span covers. Parents precede their children in the trace.
    */
  def selfTimes(from: Long, to: Long): Map[String, Long] = {
    val clip = new Array[(Long, Long)](spans.size)
    spans.indices.foreach { i =>
      val s = spans(i)
      val (lo, hi) = if (s.parent < 0) (from, to) else clip(s.parent)
      val a = math.max(s.startNs, lo)
      clip(i) = (a, math.max(a, math.min(s.endNs, hi)))
    }
    val self = new Array[Double](spans.size)
    val cuts = clip.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    cuts.zip(cuts.drop(1)).foreach { case (x, y) =>
      val open = spans.indices.filter(i => clip(i)._1 <= x && clip(i)._2 >= y)
      val inner = open.filterNot(i => open.exists(j => spans(j).parent == i))
      inner.foreach(i => self(i) += (y - x).toDouble / inner.size)
    }
    spans.indices.map(i => spans(i).name -> self(i).round).groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Self time of the named layer spans inside [from, to]: what the trace
    * attributes to a layer. The trigger's remainder beyond its reported
    * phases and the query's start and stop are not a layer's.
    */
  def attributedNs(from: Long, to: Long): Long =
    selfTimes(from, to).collect { case (n, ns) if !Trace.Unattributed(n) => ns }.sum

  def write(path: String): Unit = {
    val lines = spans.iterator.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"trigger":${s.trigger},"fs":[${s.fs.mkString(",")}]}"""
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.toSeq.asJava)
    ()
  }
}

/** GC time and peak heap from the JVM's management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
}
