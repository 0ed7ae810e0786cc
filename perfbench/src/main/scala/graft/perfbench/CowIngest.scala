package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{LakeTable, TableProps}

/** cow_ingest: keyed upserts and deletes into a copy-on-write table with
  * the range/bloom probe index, plus the clean and archive services.
  *
  * The table starts with `cowRows` rows in `cowParts` time-ordered `dt`
  * partitions. Each cycle of eight commits is six skewed upserts
  * (three quarters updates to the newest eighth of the partitions, one
  * quarter new keys in the newest), one delete on the same hot
  * partitions and one backfill that updates every partition; then one
  * services op runs `clean` and `archive`. The write path and the
  * timeline do the work; `graft.sql` and the operators are idle. */
final class CowIngest(seed: Long, sc: Scale) extends Workload {
  import CowIngest._

  private val rnd = new scala.util.Random(seed * 7919L + 1)
  private val parts = sc.cowParts
  private val perPart = sc.cowRows / parts
  private val hot = math.max(1, parts / 8)
  private var nextId = sc.cowRows.toLong
  /** the model: id -> (ts, v), latest version per key minus deletes */
  private val model = mutable.LongMap.empty[(Long, Long)]
  private var step = 0
  private var ts = 0L
  private var lake: LakeTable = _
  private var bytes: TableBytes = _
  private var submitted = 0L
  private var ctx: Ctx = _

  def primary: String = "upsert"
  // a cycle is three service cycles (about 19 s on a 4-core host), so
  // an 8 s run holds one whole cycle unless the host is twice as fast;
  // the op count, and so the mix, does not flip with host speed
  override def atCycleEnd: Boolean = step % 27 == 0

  private def partOf(id: Long): Int =
    if (id >= sc.cowRows) parts - 1 else (id / perPart).toInt

  private def rows(ids: Seq[Long]): DataFrame = {
    val s = ctx.spark
    import s.implicits._
    ids.map { id =>
      val v = math.abs(rnd.nextLong() % 1000000000L)
      (id, dt(partOf(id)), ts, v)
    }.toDF("id", "dt", "ts", "v").withColumn("pad", hex(col("v") * 31))
  }

  /** `n` distinct live ids from partitions [lo, parts) */
  private def liveIds(n: Int, lo: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val p = lo + rnd.nextInt(parts - lo)
      val id = if (p == parts - 1 && nextId > sc.cowRows && rnd.nextInt(4) == 0)
        sc.cowRows + (rnd.nextLong() & Long.MaxValue) % (nextId - sc.cowRows)
      else p.toLong * perPart + rnd.nextInt(perPart)
      if (model.contains(id)) out += id
    }
    out.toSeq
  }

  def setup(c: Ctx, dir: String): Unit = {
    ctx = c
    val s = c.spark
    lake = LakeTable.create(s, s"$dir/cow", TableProps(
      "cow", Seq("id"), Some("ts"), Seq("dt")))
    val dts = array((0 until parts).map(p => lit(dt(p))): _*)
    val base = s.range(sc.cowRows.toLong)
      .withColumn("dt", element_at(dts, (col("id") / perPart).cast("int") + 1))
      .withColumn("ts", lit(0L))
      .withColumn("v", baseV(col("id"), seed))
      .withColumn("pad", hex(col("v") * 31))
    lake.insert(base)
    (0L until sc.cowRows.toLong).foreach(id => model(id) = (0L, baseV(id, seed)))
    bytes = new TableBytes(c, lake.basePath)
  }

  /** Three skewed upserts and a delete, untimed: the first upserts of
    * a run pay JIT warm-up, three times a warm one. */
  override def warmUp(c: Ctx): Unit = {
    (0 until 3).foreach { _ => ts += 1; skewed(c) }
    ts += 1
    delete(c)
  }

  def startMeasuring(): Unit = bytes.reset()

  def next(c: Ctx): Unit = {
    val pos = step % 9
    step += 1
    if (pos == 8) { services(c); return }
    ts += 1
    pos match {
      case 3 => delete(c)
      case 7 => upsert(c, "backfill", liveIds(sc.cowBatch, 0))
      case _ => skewed(c)
    }
    bytes.update()
  }

  /** ¾ updates on the hot partitions, ¼ new keys in the newest */
  private def skewed(c: Ctx): Unit = {
    val upd = liveIds(sc.cowBatch * 3 / 4, parts - hot)
    val fresh = (0 until sc.cowBatch - upd.size).map(_ => { nextId += 1; nextId - 1 })
    upsert(c, "upsert", upd ++ fresh)
  }

  private def delete(c: Ctx): Unit = {
    val ids = liveIds(sc.cowDelete, parts - hot)
    val s = c.spark
    import s.implicits._
    val keys = ids.map(id => (id, dt(partOf(id)))).toDF("id", "dt")
    c.op("delete")(c.trace.span("write.call")(lake.delete(keys))) { _ =>
      ids.foreach(model.remove); true
    }
    if (c.measuring) submitted += ids.size
  }

  private def upsert(c: Ctx, kind: String, ids: Seq[Long]): Unit = {
    val df = rows(ids)
    val expect = df.select("id", "ts", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    c.op(kind)(c.trace.span("write.call")(lake.upsert(df))) { _ =>
      expect.foreach { case (id, tv) => model(id) = tv }; true
    }
    if (c.measuring) submitted += ids.size
  }

  private def services(c: Ctx): Unit = {
    c.op("services") {
      val removed = c.trace.span("services.clean")(lake.clean(RetainCommits))
      c.trace.span("services.archive")(lake.archive(ArchiveMin, ArchiveMax))
      removed.size
    } { n => c.trace.count("services.files_deleted", n.toDouble); true }
    bytes.update()
  }

  def verify(c: Ctx): Boolean = {
    val got = lake.snapshot().select("id", "ts", "v").collect()
    val ok = got.length == model.size && got.forall { r =>
      model.get(r.getLong(0)).contains((r.getLong(1), r.getLong(2)))
    }
    if (!ok) c.log(s"cow_ingest: table has ${got.length} rows, model ${model.size}; contents differ")
    ok
  }

  def rowsSubmitted: Long = submitted
  def bytesAdded: Long = bytes.bytesAdded
  def liveBytes: Long = bytes.liveBytes()
  def liveRows: Long = model.size.toLong

  def describe: String =
    s"cow_ingest: rows=${sc.cowRows} partitions=$parts hot_partitions=$hot " +
      s"batch=${sc.cowBatch} delete=${sc.cowDelete} " +
      s"base_bytes=${bytes.liveBytes()}"

  def stateCounters(c: Ctx): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(
      "timeline.active_commits" -> bytes.activeCommits().toDouble,
      "timeline.live_files" -> bytes.liveFiles().toDouble,
      "timeline.meta_bytes" -> bytes.metaBytes().toDouble)
}

object CowIngest {
  // the reference's retainCommits / archiveCommitsWith(min, max) shape
  val RetainCommits = 4
  val ArchiveMin = 6
  val ArchiveMax = 10

  def dt(p: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(p.toLong).toString

  /** base-load value of a key: the same function in Spark and in the
    * model (stays far below Long overflow for ids < 10^9) */
  def baseV(id: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    pmod(id * 2654435761L + lit(seed & 0xffffffL), lit(1000000007L))
  def baseV(id: Long, seed: Long): Long =
    Math.floorMod(id * 2654435761L + (seed & 0xffffffL), 1000000007L)
}
