package graft.perfbench

import java.io.File
import java.util.ServiceLoader

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.DataSourceRegister

/** Benchmark entry point: one workload, one seed, one run.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--scale full|smoke]`. Sets the workload up `Setups`
  * times (the median is `setup_s`), drives it closed-loop with one
  * client for `--seconds` (rounded up to whole op cycles), checks the final state against the model,
  * prints every metric by name with its unit, and ends with one JSON
  * line. `--trace 1` installs the Spark listener, records spans and
  * reports the per-layer metrics instead of the end-to-end ones. */
object Main {
  val Setups = 3
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val scale = if (a.getOrElse("scale", "full") == "smoke") Scale.smoke else Scale.full
    def make(): Workload = workload match {
      case "cow_ingest" => new CowIngest(seed, scale)
      case "mor_sql_query" => new MorSqlQuery(seed, scale)
      case "neardup_service" => new NearDupService(seed, scale)
      case other => sys.error(s"unknown workload $other")
    }
    make() // an unknown name fails before Spark starts

    // fail before any timing when format("graft") does not resolve —
    // a build that drops META-INF/services would otherwise time errors
    require(ServiceLoader.load(classOf[DataSourceRegister]).asScala
      .exists(_.shortName == "graft"),
      "format(\"graft\") does not resolve: META-INF/services registration missing")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/wh")
      // the repository's benchmark setting: a local FS without chmod
      // shell-outs (see graft.core.BareLocalFileSystem); the traced run
      // adds operation counting to it
      .config("spark.hadoop.fs.file.impl",
        if (traced) classOf[CountingLocalFileSystem].getName
        else "graft.core.BareLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(traced)
    val jobs = if (traced) {
      val j = new Jobs; spark.sparkContext.addSparkListener(j); Some(j)
    } else None
    val ctx = new Ctx(spark, trace)
    ctx.log("session up")
    val calib0 = Host.calibrate()

    // set-up, several times; the last one is measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    for (i <- 0 until Setups) {
      if (w != null) w.close()
      w = make()
      val t0 = System.nanoTime()
      w.setup(ctx, s"$work/setup$i")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    ctx.log(w.describe)
    ctx.log(setupS.map(x => f"$x%.3f").mkString("setup runs (s): ", ", ", ""))

    val tw = System.nanoTime()
    w.warmUp(ctx)
    ctx.log(f"warm-up ${(System.nanoTime() - tw) / 1e9}%.3f s")

    // measured phase: closed loop, one client
    w.startMeasuring()
    ctx.measuring = true
    val h0 = Host.ticks()
    val self0 = Host.selfTicks()
    val t0 = System.nanoTime()
    ctx.phaseStartNs = t0
    while ((System.nanoTime() - t0) / 1e9 < seconds || !w.atCycleEnd) w.next(ctx)
    ctx.phaseEndNs = System.nanoTime()
    val phaseS = (ctx.phaseEndNs - t0) / 1e9
    val noise = Host.window(h0, self0)
    ctx.measuring = false

    ctx.log(f"measured ${ctx.samples.size} ops in $phaseS%.1f s; checking")
    val correct = w.verify(ctx) && ctx.failed == 0 && ctx.samples.nonEmpty
    val report = new Report(ctx, w, phaseS, setupS.toSeq)
    val state = if (traced) w.stateCounters(ctx) else mutable.LinkedHashMap.empty[String, Double]
    w.close()
    jobs.foreach(_.drain())
    val calib1 = Host.calibrate()
    ctx.log(f"host calib_ms=$calib0%.1f,$calib1%.1f steal=${noise.steal}%.4f " +
      f"cotenant=${noise.other}%.4f (recorded only)")
    ctx.log(f"error_rate=${ctx.failed.toDouble / math.max(1, ctx.attempted)}%.4f " +
      s"(${ctx.failed} of ${ctx.attempted} ops)")
    val metrics = if (traced) {
      val m = report.layers(jobs.get, state)
      a.get("trace-out").foreach(f => report.writeTrace(new File(f), jobs.get))
      m
    } else report.endToEnd()
    spark.stop()
    println(Report.json(correct, ctx.attempted, ctx.failed, metrics))
  }
}

/** Host-noise record: a fixed-work CPU probe and /proc/stat steal and
  * co-tenant shares over the measured phase. Printed beside the
  * metrics only; no sample is dropped on their account. */
object Host {
  private val sink = new java.util.concurrent.atomic.AtomicLong(0)

  /** SplitMix64 for 10^8 steps on one thread (the probe graft.Bench
    * uses), in ms. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L; var acc = 0L; var i = 0L
    while (i < 100000000L) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    sink.addAndGet(acc)
    (System.nanoTime() - t0) / 1e6
  }

  /** (steal, total, busy) ticks of the first /proc/stat line */
  def ticks(): Option[(Long, Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val total = f.take(8).sum
    val steal = if (f.length > 7) f(7) else 0L
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    Some((steal, total, total - idle - steal))
  } catch { case _: Exception => None }

  /** this JVM's utime + stime ticks */
  def selfTicks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val s = try src.mkString finally src.close()
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  } catch { case _: Exception => 0L }

  final case class Noise(steal: Double, other: Double)

  def window(h0: Option[(Long, Long, Long)], self0: Long): Noise =
    (h0, ticks()) match {
      case (Some((s0, t0, b0)), Some((s1, t1, b1))) if t1 > t0 =>
        val tot = (t1 - t0).toDouble
        Noise((s1 - s0) / tot, math.max(0.0, (b1 - b0) - (selfTicks() - self0)) / tot)
      case _ => Noise(0.0, 0.0)
    }
}
