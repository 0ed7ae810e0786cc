package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** In-memory span and counter recorder for the traced run.
  *
  * Spans are opened only around the benchmark's own calls into the
  * program's modules (one root span per op, one child per layer call),
  * so the program itself is unchanged. Spark jobs seen by [[Jobs]] and
  * streaming phases read from query progress are added afterwards and
  * nested by time containment. Nothing is written until the run ends.
  * With `enabled = false` every method is a pass-through and no span
  * is recorded (the untraced run installs no listener either). */
final class Trace(val enabled: Boolean) {
  import Trace._

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  // wall-clock anchor for mapping listener/progress epoch millis onto
  // the nanoTime axis spans use
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Time `body` as a span under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Record a span whose bounds were measured elsewhere (streaming
    * phases), clipped to `parent`. */
  def addSpan(name: String, parent: Span, startNs: Long, endNs: Long): Unit = {
    val s = Span(spans.length, parent.id, name,
      math.max(startNs, parent.startNs))
    s.endNs = math.max(s.startNs, math.min(endNs, parent.endNs))
    spans += s
  }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  def calls(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long) {
    var endNs: Long = -1L
    def durNs: Long = endNs - startNs
  }

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer name over the span trees under `roots`:
    * a span's self time is its length minus the union of its child
    * spans and the Spark jobs nested in it; the jobs' share is
    * reported as `spark.job`. Each root's self times add up to its
    * wall time exactly, so any shortfall in the coverage check comes
    * from spans that escaped their parent. */
  def selfTimes(
      spans: Seq[Span], roots: Seq[Span], jobs: Seq[(Long, Long)])
      : mutable.LinkedHashMap[String, Long] = {
    val children = spans.groupBy(_.parent)
    // innermost span containing each job's start (spans of one tree
    // nest, so the latest-starting container is the innermost)
    val byStart = spans.sortBy(_.startNs)
    val jobsOf = mutable.HashMap.empty[Int, ArrayBuffer[(Long, Long)]]
    jobs.foreach { case (js, je) =>
      val inner = byStart.reverseIterator
        .find(s => s.startNs <= js && js < s.endNs)
      inner.foreach { s =>
        jobsOf.getOrElseUpdate(s.id, ArrayBuffer.empty) +=
          ((js, math.min(je, s.endNs)))
      }
    }
    val out = mutable.LinkedHashMap.empty[String, Long]
    def add(k: String, v: Long): Unit = out(k) = out.getOrElse(k, 0L) + v
    def walk(s: Span, label: String): Unit = {
      val kids = children.getOrElse(s.id, Nil)
      val kidIv = kids.map(k => (k.startNs, k.endNs))
      val jobIv = jobsOf.getOrElse(s.id, ArrayBuffer.empty).toSeq
      val covered = unionNs(kidIv ++ jobIv)
      add(label, s.durNs - covered)
      add("spark.job", covered - unionNs(kidIv))
      kids.foreach(k => walk(k, k.name))
    }
    roots.foreach(r => walk(r, "bench.driver"))
    out
  }
}

/** Spark job and task accounting from a listener, installed only in
  * the traced run. Times are epoch millis as the events carry them. */
final class Jobs extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val queryId: Option[String]) {
    @volatile var endMs: Long = -1L
    @volatile var tasks: Long = 0L
    @volatile var taskMs: Long = 0L
    @volatile var shuffleBytes: Long = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val qid = Option(e.properties).flatMap(p =>
      Option(p.getProperty("sql.streaming.queryId")))
    val j = new Job(e.jobId, e.time, qid)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  /** Wait (bounded) until every started job has been seen ending —
    * listener delivery is asynchronous. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.endMs < 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Process-wide counters read around each op in the traced run:
  * Hadoop FileSystem statistics for the `file` scheme and JVM GC
  * time. The op counts come from [[CountingLocalFileSystem]]; listings
  * are kept in Hadoop's large-read-op counter. */
object Counters {
  val names: Seq[String] = Seq(
    "fs.bytes_read", "fs.bytes_written", "fs.read_ops", "fs.write_ops",
    "fs.list_ops", "jvm.gc_s")

  def snapshot(): Array[Double] = {
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    def sum(f: FileSystem.Statistics => Long): Double = fs.map(f).sum.toDouble
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Array(sum(_.getBytesRead), sum(_.getBytesWritten), sum(_.getReadOps),
      sum(_.getWriteOps), sum(_.getLargeReadOps), gcMs / 1000.0)
  }
}

/** The repository's local filesystem with operation counting, wired
  * as `fs.file.impl` in the traced run only. The local filesystem
  * counts bytes but no operations; this counts opens and status calls
  * as read ops, listings as large read ops, and creates, appends,
  * renames, deletes and mkdirs as write ops, in the FileSystem
  * statistics [[Counters]] reads. */
class CountingLocalFileSystem extends graft.core.BareLocalFileSystem {
  // the local filesystem never initialises its own `statistics` (only
  // the raw one inside it does), so it counts into a table of its own
  @annotation.nowarn("cat=deprecation")
  private val stats = FileSystem.getStatistics("file", classOf[CountingLocalFileSystem])
  private def read(): Unit = stats.incrementReadOps(1)
  private def list(): Unit = stats.incrementLargeReadOps(1)
  private def write(): Unit = stats.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    read(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { list(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    list(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    list(); super.listStatusIterator(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    write(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    write(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    write(); super.mkdirs(f, permission)
  }
}
