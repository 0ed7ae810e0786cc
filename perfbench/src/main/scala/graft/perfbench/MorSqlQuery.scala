package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._

import graft.core.LakeTable

/** mor_sql_query: SQL reads of a merge-on-read table through
  * `graft.sql.GraftCatalog`, with SQL DML and delta upserts
  * interleaved.
  *
  * The table (bucket index, 4 buckets; col-stats on `seq`) starts with
  * `morRows` rows in `morParts` `dt` partitions; `seq` rises with the
  * partition but not with the key, so a `seq` range is pruned by
  * col-stats only. Each cycle is one SQL UPDATE, DELETE or three-way
  * MERGE and one delta upsert, then 25 reads: the first is a point
  * lookup that pays compact-on-read, the rest a seeded shuffle of 17
  * point lookups, 3 `seq` range scans, 3 aggregates and an incremental
  * pull. SQL planning, scan pruning and compact-on-read do the work;
  * the copy-on-write probe and rewrite are idle. */
final class MorSqlQuery(seed: Long, sc: Scale) extends Workload {
  import MorSqlQuery._

  private val rnd = new scala.util.Random(seed * 104729L + 2)
  private val parts = sc.morParts
  private val perPart = sc.morRows / parts
  private var nextId = sc.morRows.toLong
  /** the model: id -> (x, ts, commit instant of its latest version) */
  private val model = mutable.LongMap.empty[(Long, Long, String)]
  private var baseInstant = ""
  private val writeInstants = mutable.ArrayBuffer.empty[String]
  private var ts = 0L
  private var dmlN = 0
  private var cycle: Seq[String] = Nil
  private var table = ""
  private var path = ""
  private var lake: LakeTable = _
  private var bytes: TableBytes = _
  private var submitted = 0L

  def primary: String = "point"
  override def atCycleEnd: Boolean = cycle.isEmpty

  private def partOf(id: Long): Int =
    if (id >= sc.morRows) parts - 1 else (id / perPart).toInt
  private def seqOf(id: Long): Long =
    if (id >= sc.morRows) (parts - 1) * SeqStride + SeqStride / 2 + (id - sc.morRows)
    else partOf(id) * SeqStride + (id * 7919L) % perPart

  def setup(c: Ctx, dir: String): Unit = {
    val s = c.spark
    table = s"graft.bench.m${dir.hashCode.abs}"
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    s.sql(s"""CREATE TABLE $table (id BIGINT, dt STRING, seq BIGINT, x BIGINT,
      ts BIGINT) USING graft PARTITIONED BY (dt)
      TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'mor',
      bucketIndexBuckets = '4', statsColumns = 'seq')""")
    path = s"${s.conf.get("spark.sql.catalog.graft.warehouse")}/bench/${table.split('.').last}"
    lake = LakeTable.load(s, path)
    val dts = array((0 until parts).map(p => lit(CowIngest.dt(p))): _*)
    val p = (col("id") / perPart).cast("int")
    lake.insert(s.range(sc.morRows.toLong)
      .withColumn("dt", element_at(dts, p + 1))
      .withColumn("seq", p.cast("long") * SeqStride + pmod(col("id") * 7919L, lit(perPart.toLong)))
      .withColumn("x", CowIngest.baseV(col("id"), seed))
      .withColumn("ts", lit(0L)))
    baseInstant = lake.timeline.latestInstant().get
    (0L until sc.morRows.toLong).foreach(id =>
      model(id) = (CowIngest.baseV(id, seed), 0L, baseInstant))
    bytes = new TableBytes(c, lake.basePath)
  }

  override def warmUp(c: Ctx): Unit = (0 until 4).foreach(_ => point(c, "point"))

  def startMeasuring(): Unit = bytes.reset()

  def next(c: Ctx): Unit = {
    if (cycle.isEmpty) cycle = Seq("dml", "delta", "read_after_write") ++ rnd.shuffle(Mix)
    val kind = cycle.head
    cycle = cycle.tail
    kind match {
      case "read_after_write" | "point" => point(c, kind)
      case "skip_scan" => skipScan(c)
      case "agg" => agg(c)
      case "incremental" => incremental(c)
      case "dml" => dml(c)
      case "delta" => delta(c)
    }
    val fresh = bytes.update()
    c.trace.count("services.compactions", fresh.count(_.action == "commit").toDouble)
  }

  /** Plan (parse, analyse, optimise, build the scan — which is where
    * compact-on-read runs) and execute one SQL query. */
  private def query(c: Ctx, q: String): Array[Row] = {
    val df = c.trace.span("sql.plan") {
      val d = c.spark.sql(q)
      d.queryExecution.executedPlan
      d
    }
    val rows = c.trace.span("sql.exec")(df.collect())
    if (c.trace.enabled && c.measuring)
      c.trace.count("sql.files_scanned", filesScanned(df).toDouble)
    rows
  }

  private def randomLive(): Long = {
    var id = (rnd.nextLong() & Long.MaxValue) % nextId
    while (!model.contains(id)) id = (rnd.nextLong() & Long.MaxValue) % nextId
    id
  }

  private def point(c: Ctx, kind: String): Unit = {
    // one lookup in ten may hit a deleted or never-written key
    val id = if (rnd.nextInt(10) == 0) (rnd.nextLong() & Long.MaxValue) % (nextId + 100)
      else randomLive()
    c.op(kind)(query(c, s"SELECT id, seq, x, ts FROM $table WHERE id = $id")) { rows =>
      model.get(id) match {
        case None => rows.isEmpty
        case Some((x, t, _)) => rows.length == 1 && rows(0).getLong(0) == id &&
          rows(0).getLong(1) == seqOf(id) && rows(0).getLong(2) == x &&
          rows(0).getLong(3) == t
      }
    }
  }

  private def skipScan(c: Ctx): Unit = {
    val p = rnd.nextInt(parts)
    val lo = p * SeqStride + rnd.nextInt(perPart)
    val hi = lo + perPart / 5
    c.op("skip_scan")(query(c,
      s"SELECT count(*), coalesce(sum(x), 0) FROM $table WHERE seq BETWEEN $lo AND $hi")) { rows =>
      var n = 0L; var sum = 0L
      model.foreach { case (id, (x, _, _)) =>
        val q = seqOf(id); if (q >= lo && q <= hi) { n += 1; sum += x } }
      rows(0).getLong(0) == n && rows(0).getLong(1) == sum
    }
  }

  private def agg(c: Ctx): Unit =
    if (rnd.nextBoolean()) {
      val a = rnd.nextInt(parts)
      val b = math.min(parts - 1, a + 3)
      c.op("agg")(query(c, s"SELECT dt, count(*), sum(x) FROM $table " +
        s"WHERE dt BETWEEN '${CowIngest.dt(a)}' AND '${CowIngest.dt(b)}' GROUP BY dt")) { rows =>
        val want = mutable.HashMap.empty[String, (Long, Long)]
        model.foreach { case (id, (x, _, _)) =>
          val p = partOf(id)
          if (p >= a && p <= b) {
            val (n, s) = want.getOrElse(CowIngest.dt(p), (0L, 0L))
            want(CowIngest.dt(p)) = (n + 1, s + x)
          }
        }
        rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap == want.toMap
      }
    } else {
      c.op("agg")(query(c, s"SELECT count(*), sum(x), max(ts) FROM $table")) { rows =>
        rows(0).getLong(0) == model.size &&
          rows(0).getLong(1) == model.valuesIterator.map(_._1).sum &&
          rows(0).getLong(2) == model.valuesIterator.map(_._2).max
      }
    }

  private def incremental(c: Ctx): Unit = {
    val begin = if (writeInstants.size >= 2) writeInstants(writeInstants.size - 2)
      else baseInstant
    c.op("incremental")(c.trace.span("read.incremental") {
      c.spark.read.format("graft").option("queryType", "incremental")
        .option("beginInstant", begin).load(path).select("id", "x").collect()
    }) { rows =>
      val want = model.iterator.collect { case (id, (x, _, i)) if i > begin => (id, x) }.toSet
      rows.length == want.size && rows.map(r => (r.getLong(0), r.getLong(1))).toSet == want
    }
  }

  /** newest data commit (not a compaction) of the table */
  private def lastWrite(): String =
    bytes.lake.timeline.commits().filter(_.action != "commit").last.instant

  private def dml(c: Ctx): Unit = {
    ts += 1
    val t = ts
    val p = rnd.nextInt(parts)
    val lo = p.toLong * perPart + rnd.nextInt(perPart - sc.morDml)
    val hi = lo + sc.morDml - 1
    dmlN += 1
    dmlN % 3 match {
      case 0 =>
        val hit = (lo to hi).filter(model.contains)
        c.op("dml")(c.trace.span("sql.dml")(c.spark.sql(
          s"UPDATE $table SET x = x + 1, ts = $t WHERE id BETWEEN $lo AND $hi"))) { _ =>
          val inst = lastWrite()
          hit.foreach { id => val (x, _, _) = model(id); model(id) = (x + 1, t, inst) }
          writeInstants += inst; true
        }
        if (c.measuring) submitted += hit.size
      case 1 =>
        val hit = (lo to hi).filter(model.contains)
        c.op("dml")(c.trace.span("sql.dml")(c.spark.sql(
          s"DELETE FROM $table WHERE id BETWEEN $lo AND $hi"))) { _ =>
          hit.foreach(model.remove); writeInstants += lastWrite(); true
        }
        if (c.measuring) submitted += hit.size
      case _ =>
        // three-way MERGE (the SparkSQLDemo shape): update, delete, insert
        val k = sc.morDml / 3
        val upd = Seq.fill(k)(randomLive()).distinct
        val del = Seq.fill(k)(randomLive()).distinct.filterNot(upd.contains)
        val ins = (0 until k).map(_ => { nextId += 1; nextId - 1 })
        val newX = (upd ++ ins).map(id => id -> math.abs(rnd.nextLong() % 1000000000L)).toMap
        def row(id: Long, op: String) =
          s"(${id}L, '${CowIngest.dt(partOf(id))}', ${seqOf(id)}L, ${newX.getOrElse(id, 0L)}L, ${t}L, '$op')"
        val src = (upd.map(row(_, "U")) ++ del.map(row(_, "D")) ++ ins.map(row(_, "I"))).mkString(", ")
        c.op("dml")(c.trace.span("sql.dml")(c.spark.sql(
          s"""MERGE INTO $table AS t0
          USING (SELECT * FROM VALUES $src AS s(id, dt, seq, x, ts, opt)) AS s0
          ON t0.id = s0.id
          WHEN MATCHED AND s0.opt != 'D' THEN UPDATE SET t0.x = s0.x, t0.ts = s0.ts
          WHEN MATCHED AND s0.opt = 'D' THEN DELETE
          WHEN NOT MATCHED AND s0.opt != 'D' THEN INSERT (id, dt, seq, x, ts)
            VALUES (s0.id, s0.dt, s0.seq, s0.x, s0.ts)"""))) { _ =>
          val inst = lastWrite()
          (upd ++ ins).foreach(id => model(id) = (newX(id), t, inst))
          del.foreach(model.remove)
          writeInstants += inst; true
        }
        if (c.measuring) submitted += upd.size + del.size + ins.size
    }
  }

  private def delta(c: Ctx): Unit = {
    ts += 1
    val t = ts
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < sc.morDelta) ids += randomLive()
    val s = c.spark
    import s.implicits._
    val rows = ids.toSeq.map(id =>
      (id, CowIngest.dt(partOf(id)), seqOf(id), math.abs(rnd.nextLong() % 1000000000L), t))
    val df = rows.toDF("id", "dt", "seq", "x", "ts")
    c.op("delta")(c.trace.span("write.call")(lake.upsert(df))) { inst =>
      rows.foreach { case (id, _, _, x, _) => model(id) = (x, t, inst) }
      writeInstants += inst; true
    }
    if (c.measuring) submitted += rows.size
  }

  def verify(c: Ctx): Boolean = {
    val got = LakeTable.load(c.spark, path).snapshot().select("id", "seq", "x", "ts").collect()
    val ok = got.length == model.size && got.forall { r =>
      val id = r.getLong(0)
      r.getLong(1) == seqOf(id) &&
        model.get(id).exists { case (x, t, _) => r.getLong(2) == x && r.getLong(3) == t }
    }
    if (!ok) c.log(s"mor_sql_query: table has ${got.length} rows, model ${model.size}; contents differ")
    ok
  }

  def rowsSubmitted: Long = submitted
  def bytesAdded: Long = bytes.bytesAdded
  def liveBytes: Long = bytes.liveBytes()
  def liveRows: Long = model.size.toLong

  def describe: String =
    s"mor_sql_query: rows=${sc.morRows} partitions=$parts buckets=4 " +
      s"delta=${sc.morDelta} dml_rows=${sc.morDml} reads_per_cycle=${Mix.size + 1} " +
      s"base_bytes=${bytes.liveBytes()}"

  def stateCounters(c: Ctx): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(
      "timeline.active_commits" -> bytes.activeCommits().toDouble,
      "timeline.live_files" -> bytes.liveFiles().toDouble,
      "timeline.meta_bytes" -> bytes.metaBytes().toDouble)
}

object MorSqlQuery {
  val SeqStride = 1000000L
  /** reads after the first one of a cycle: with it, 72% point
    * lookups, 12% range scans, 12% aggregates, 4% incremental pulls */
  val Mix: Seq[String] =
    Seq.fill(17)("point") ++ Seq.fill(3)("skip_scan") ++ Seq.fill(3)("agg") :+ "incremental"

  /** Data files the executed plan's scans read. */
  def filesScanned(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = (p match {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length
      case b: BatchScanExec => b.scan match {
        case g: graft.sql.GraftScan => g.delegate match {
          case f: FileScan => f.fileIndex.inputFiles.length
          case _ => 0
        }
        case f: FileScan => f.fileIndex.inputFiles.length
        case _ => 0
      }
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => 0
    }) + p.children.map(walk).sum + p.subqueries.map(walk).sum
    walk(df.queryExecution.executedPlan)
  }
}
