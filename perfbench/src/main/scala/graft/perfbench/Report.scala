package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** Turns one run's samples, counters and spans into metrics. */
final class Report(ctx: Ctx, w: Workload, phaseS: Double, setupS: Seq[Double]) {
  import Report._

  private val walls = ctx.samples.map(_.wall).toSeq
  private def kindWalls(k: String): Seq[Double] =
    ctx.samples.filter(_.kind == k).map(_.wall).toSeq

  /** End-to-end metrics (untraced run), plus the workload's own named
    * latencies printed for reading. */
  def endToEnd(): Seq[(String, Double, String)] = {
    ctx.samples.map(_.kind).distinct.foreach { k =>
      val ws = kindWalls(k)
      val (tail, pct) = Report.tail(ws)
      ctx.log(f"op $k%-16s n=${ws.size}%4d p50=${median(ws)}%.4f s tail(p$pct%.0f)=$tail%.4f s")
    }
    val named = mutable.ArrayBuffer.empty[(String, Double, String)]
    def p50(name: String, kind: String): Unit =
      if (kindWalls(kind).nonEmpty) named += ((name, median(kindWalls(kind)), "s"))
    p50("upsert_p50_s", "upsert"); p50("delete_p50_s", "delete")
    p50("point_p50_s", "point")
    if (kindWalls("point").nonEmpty) {
      val (t, pct) = Report.tail(kindWalls("point"))
      ctx.log(f"point_tail_s is p$pct%.0f of ${kindWalls("point").size} lookups")
      named += (("point_tail_s", t, "s"))
    }
    p50("skip_scan_p50_s", "skip_scan"); p50("agg_p50_s", "agg")
    p50("dml_p50_s", "dml"); p50("read_after_write_p50_s", "read_after_write")
    p50("incremental_p50_s", "incremental"); p50("freshness_p50_s", "churn")
    if (kindWalls("upsert").nonEmpty)
      named += (("ingest_rows_per_s", w.rowsSubmitted / walls.sum, "rows/s"))
    if (kindWalls("churn").nonEmpty)
      named += (("churn_docs_per_s", w.rowsSubmitted / walls.sum, "docs/s"))
    named.foreach { case (n, v, u) => ctx.log(f"workload metric $n = $v%.6f $u") }

    val prim = kindWalls(w.primary)
    ctx.log(f"all ops: n=${walls.size} p50=${median(walls)}%.4f s; primary op: ${w.primary}")
    // the throughput counts op time only: the model checks and the
    // byte probes between ops are the harness's own work
    ctx.log(f"measured phase $phaseS%.3f s = ops ${walls.sum}%.3f s + harness between ops " +
      f"${phaseS - walls.sum}%.3f s (${100 * (phaseS - walls.sum) / phaseS}%.1f%%)")
    Seq(
      ("setup_s", median(setupS), "s"),
      ("primary_p50_s", median(prim), "s"),
      ("ops_per_s", walls.size / walls.sum, "1/s"),
      ("write_bytes_per_row", w.bytesAdded.toDouble / math.max(1L, w.rowsSubmitted), "B/row"),
      ("space_bytes_per_row", w.liveBytes.toDouble / math.max(1L, w.liveRows), "B/row"))
  }

  private def inPhase(s: Trace.Span): Boolean =
    s.startNs >= ctx.phaseStartNs && s.startNs <= ctx.phaseEndNs

  /** Per-layer metrics (traced run): mean seconds per call of each
    * layer the benchmark calls, counters per op, Spark/FS/GC per op,
    * and the end-of-run state of the tables. */
  def layers(jobs: Jobs, state: mutable.LinkedHashMap[String, Double])
      : Seq[(String, Double, String)] = {
    val tr = ctx.trace
    val roots = ctx.opSpans.map(_._2).toSeq
    val nOps = math.max(1, roots.size).toDouble
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    LayerCalls.foreach { l =>
      val calls = tr.calls(l).filter(inPhase)
      out(l + "_s") = (if (calls.isEmpty) 0.0 else calls.map(_.durNs).sum / 1e9 / calls.size, "s")
    }
    val sqlReads = math.max(1, tr.calls("sql.exec").count(inPhase))
    out("sql.files_scanned") = (tr.counter("sql.files_scanned") / sqlReads, "count")
    PerOpCounters.foreach { case (n, u) => out(n) = (tr.counter(n) / nOps, u) }
    StateCounters.foreach(n =>
      out(n) = (state.getOrElse(n, 0.0), if (n.endsWith("bytes")) "B" else "count"))

    val js = jobs.all.filter(_.endMs >= 0)
      .map(j => (j, tr.msToNs(j.startMs), tr.msToNs(j.endMs)))
    var nJobs, tasks, taskMs, shuffle, jobWallNs, wallNs = 0.0
    roots.foreach { r =>
      val mine = js.filter { case (_, s, _) => s >= r.startNs && s < r.endNs }
      nJobs += mine.size
      mine.foreach { case (j, _, _) =>
        tasks += j.tasks; taskMs += j.taskMs; shuffle += j.shuffleBytes }
      jobWallNs += Trace.unionNs(mine.map { case (_, s, e) => (s, math.min(e, r.endNs)) })
      wallNs += r.durNs
    }
    out("spark.jobs") = (nJobs / nOps, "count")
    out("spark.tasks") = (tasks / nOps, "count")
    out("spark.task_s") = (taskMs / 1e3 / nOps, "s")
    out("spark.shuffle_bytes") = (shuffle / nOps, "B")
    out("spark.job_wall_s") = (jobWallNs / 1e9 / nOps, "s")
    out("spark.driver_only_s") = ((wallNs - jobWallNs) / 1e9 / nOps, "s")
    Counters.names.zipWithIndex.foreach { case (n, i) =>
      out(n) = (ctx.opCounters(i) / nOps, if (n.endsWith("_s")) "s"
        else if (n.startsWith("fs.bytes")) "B" else "count")
    }

    // self time per layer, over the whole run and per op kind
    val jobIv = js.map { case (_, s, e) => (s, e) }
    val self = Trace.selfTimes(tr.spans.toSeq, roots, jobIv)
    val selfSum = self.values.sum.toDouble
    ctx.log(f"selftime coverage: layers ${selfSum / 1e9}%.3f s of op wall ${wallNs / 1e9}%.3f s " +
      f"(${100 * selfSum / math.max(1.0, wallNs)}%.2f%%)")
    self.toSeq.sortBy(-_._2).foreach { case (l, ns) =>
      ctx.log(f"selftime all  $l%-28s ${ns / 1e9}%9.3f s ${100 * ns / math.max(1.0, wallNs)}%6.2f%%")
    }
    ctx.opSpans.groupBy(_._1).foreach { case (kind, ks) =>
      val rs = ks.map(_._2).toSeq
      val kw = rs.map(_.durNs).sum.toDouble
      Trace.selfTimes(tr.spans.toSeq, rs, jobIv).toSeq.sortBy(-_._2).foreach { case (l, ns) =>
        ctx.log(f"selftime $kind%-16s $l%-28s ${ns / 1e9 / rs.size}%9.4f s/op ${100 * ns / math.max(1.0, kw)}%6.2f%%")
      }
    }
    out("trace.primary_p50_s") = (median(kindWalls(w.primary)), "s")
    // the share of op wall time no layer span or Spark job covers
    out("trace.unattributed_share") =
      (self.getOrElse("bench.driver", 0L) / math.max(1.0, wallNs), "ratio")
    out.toSeq.map { case (n, (v, u)) => (n, v, u) }
  }

  /** Spans, jobs and counters of the run, written once at the end. */
  def writeTrace(f: File, jobs: Jobs): Unit = {
    f.getParentFile.mkdirs()
    val tr = ctx.trace
    val t0 = tr.spans.headOption.map(_.startNs).getOrElse(0L)
    val pw = new PrintWriter(f)
    try {
      pw.println("{\"spans\": [")
      pw.println(tr.spans.map(s =>
        f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
          f""""start_ms": ${(s.startNs - t0) / 1e6}%.3f, "dur_ms": ${s.durNs / 1e6}%.3f}""")
        .mkString(",\n"))
      pw.println("], \"jobs\": [")
      pw.println(jobs.all.map(j =>
        f"""{"id": ${j.id}, "start_ms": ${(tr.msToNs(j.startMs) - t0) / 1e6}%.3f, """ +
          f""""dur_ms": ${(j.endMs - j.startMs).toDouble}%.0f, "tasks": ${j.tasks}, """ +
          f""""task_ms": ${j.taskMs}, "streaming": ${j.queryId.isDefined}}""")
        .mkString(",\n"))
      pw.println("]}")
    } finally pw.close()
  }
}

object Report {
  /** layer calls the benchmark wraps in spans */
  val LayerCalls: Seq[String] = Seq("sql.plan", "sql.exec", "sql.dml",
    "timeline.live_files", "timeline.commits", "write.call",
    "read.incremental", "services.clean", "services.archive")
  val PerOpCounters: Seq[(String, String)] = Seq(
    "write.files_added" -> "count", "write.files_removed" -> "count",
    "write.bytes_added" -> "B", "services.files_deleted" -> "count",
    "services.compactions" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.source_s" -> "s", "streaming.wal_s" -> "s",
    "streaming.batches" -> "count", "streaming.input_rows" -> "count",
    "queries.state_commits" -> "count", "queries.state_bytes_added" -> "B")
  val StateCounters: Seq[String] = Seq("timeline.active_commits",
    "timeline.live_files", "timeline.meta_bytes", "queries.pairs_live")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, and
    * which percentile that is; the maximum when there are fewer than
    * eleven samples. Below 21 samples it is at or under the median. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 11) (if (xs.isEmpty) Double.NaN else xs.max, 100.0)
    else {
      val s = xs.sorted
      (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    }

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
