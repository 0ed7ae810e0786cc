package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.LakeTable

/** One timed op: its kind and wall time. */
final case class Sample(kind: String, wall: Double)

/** Input sizes, scaled together. `full` is the measured scale; `smoke`
  * runs every workload with its checks in a few seconds each. */
final case class Scale(
    cowRows: Int, cowParts: Int, cowBatch: Int, cowDelete: Int,
    morRows: Int, morParts: Int, morDelta: Int, morDml: Int,
    docs: Int, churn: Int, docDeletes: Int)

object Scale {
  val full = Scale(100000, 16, 2500, 250, 100000, 16, 1000, 60, 500, 20, 5)
  val smoke = Scale(20000, 8, 1000, 100, 20000, 8, 500, 30, 200, 10, 3)
}

/** State shared by the harness and a workload in one run: the session,
  * the trace, and the op samples of the measured phase. */
final class Ctx(val spark: SparkSession, val trace: Trace) {
  val samples: ArrayBuffer[Sample] = ArrayBuffer.empty
  /** root span of each completed op, with its kind (traced run) */
  val opSpans: ArrayBuffer[(String, Trace.Span)] = ArrayBuffer.empty
  /** per-op FS/GC counter deltas, summed (traced run) */
  val opCounters: Array[Double] = Array.fill(Counters.names.size)(0.0)
  var attempted = 0
  var failed = 0
  var measuring = false
  var phaseStartNs = 0L
  var phaseEndNs = 0L

  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - born) / 1e3}%6.1fs] $msg")

  /** Run one op. A throw or a failed `check` counts as a failure and
    * never becomes a timing sample; the check runs after the clock
    * stops. Outside the measured phase the op runs untimed. */
  def op[T](kind: String)(body: => T)(
      check: T => Boolean): Unit = {
    if (!measuring) { require(check(body), s"$kind: wrong result in setup"); return }
    attempted += 1
    val c0 = if (trace.enabled) Counters.snapshot() else null
    val t0 = System.nanoTime()
    val res = try Right(trace.span("op:" + kind)(body))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val root = if (trace.enabled) trace.spans.reverseIterator
      .find(s => s.parent == -1 && s.name == "op:" + kind) else None
    if (c0 != null) {
      val c1 = Counters.snapshot()
      c1.indices.foreach(i => opCounters(i) += c1(i) - c0(i))
    }
    val ok = res match {
      case Right(v) =>
        try check(v) || { log(s"$kind: wrong result"); false }
        catch { case NonFatal(e) => log(s"$kind: check failed: $e"); false }
      case Left(e) => log(s"$kind: failed: $e"); false
    }
    if (ok) {
      samples += Sample(kind, wall)
      root.foreach(r => opSpans += ((kind, r)))
    } else failed += 1
  }

  /** Untimed metadata probe between ops. */
  def probe[T](body: => T): T = trace.span("probe")(body)
}

/** Data-file bytes a workload's tables add and hold, read from each
  * table's timeline metadata plus one file-status call per file. The
  * probe runs between ops, never inside a timed op, and reads through
  * its own `LakeTable` instance, so it never warms the caches of the
  * instance the timed ops use. */
final class TableBytes(ctx: Ctx, basePath: String) {
  /** the probe's own handle on the table */
  val lake: LakeTable = LakeTable.load(ctx.spark, basePath)
  private val fs = new Path(lake.basePath)
    .getFileSystem(ctx.spark.sessionState.newHadoopConf())
  private var seen: Set[String] = Set.empty
  var bytesAdded = 0L

  private def size(rel: String): Long =
    try fs.getFileStatus(new Path(lake.abs(rel))).getLen
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Forget commits so far (set-up writes are not counted). */
  def reset(): Unit = {
    seen = ctx.probe(ctx.trace.span("timeline.commits")(
      lake.timeline.commits())).map(_.instant).toSet
    bytesAdded = 0L
  }

  /** Account the commits that appeared since the last call; returns
    * them so a caller can count commits of a given action. */
  def update(): Seq[graft.core.CommitMeta] = ctx.probe {
    val fresh = ctx.trace.span("timeline.commits")(lake.timeline.commits())
      .filterNot(c => seen(c.instant))
    // the live-set probe a reader makes between commits, timed for the
    // timeline layer in the traced run only; its result is not needed
    if (ctx.trace.enabled)
      ctx.trace.span("timeline.live_files")(lake.timeline.liveFiles(None))
    fresh.foreach { c =>
      seen += c.instant
      val b = c.added.map(size).sum
      if (ctx.measuring) {
        bytesAdded += b
        ctx.trace.count("write.files_added", c.added.size.toDouble)
        ctx.trace.count("write.files_removed", c.removed.size.toDouble)
        ctx.trace.count("write.bytes_added", b.toDouble)
      }
    }
    fresh
  }

  def liveBytes(): Long = ctx.probe {
    ctx.trace.span("timeline.live_files")(lake.timeline.liveFiles(None))
      .map(f => size(f.path)).sum
  }

  def liveFiles(): Int = lake.timeline.liveFiles(None).size

  def activeCommits(): Int = lake.timeline.commits().size

  /** Bytes of the table's metadata directory (commit files,
    * checkpoint, properties). */
  def metaBytes(): Long = {
    val dir = new Path(lake.basePath, graft.core.Timeline.META_DIR)
    if (!fs.exists(dir)) 0L
    else {
      val it = fs.listFiles(dir, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
  }
}

/** One workload: set-up, then one op per `next` call, then a final
  * check against a model built without the program. */
trait Workload {
  /** The op kind whose latency the workload exists to measure. */
  def primary: String
  /** Whether the op schedule is at a cycle boundary; the measured
    * phase ends on one so every run holds whole cycles. */
  def atCycleEnd: Boolean = true
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed ops between set-up and the measured phase, so that the
    * first timed ops do not pay JIT and cache warm-up. */
  def warmUp(ctx: Ctx): Unit = ()
  /** Called once between set-up and the measured phase. */
  def startMeasuring(): Unit
  def next(ctx: Ctx): Unit
  /** Final table(s) equal the model. */
  def verify(ctx: Ctx): Boolean
  def close(): Unit = ()
  def rowsSubmitted: Long
  def bytesAdded: Long
  def liveBytes: Long
  def liveRows: Long
  /** Input sizes, printed once. */
  def describe: String
  /** Layer counters taken at the end of the run (traced run). */
  def stateCounters(ctx: Ctx): mutable.LinkedHashMap[String, Double]
}
