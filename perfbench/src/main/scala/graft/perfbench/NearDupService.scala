package graft.perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{LakeTable, TableProps}
import graft.queries.DedupOps
import graft.streaming.NearDupMaintenance

/** neardup_service: the streaming near-duplicate service kept fresh
  * while a documents table churns.
  *
  * A merge-on-read docs table of `docs` seeded documents, a fixed share
  * of them near-duplicates, feeds `NearDupMaintenance` (CDC source →
  * `NearDupIndex.reconcile` into a signature store and a pairs table;
  * a fold every 8 batches). Each op commits one churn batch — `churn`
  * edited and new docs plus `docDeletes` deletes, one docs commit, so
  * every op does the same work — and waits until the service has
  * caught up. A cycle is two ops (about 11 s on a 4-core host).
  * `graft.streaming`, the CDC source and the reconcile stages do the
  * work; writes are small merge-on-read appends; `graft.sql` is idle. */
final class NearDupService(seed: Long, sc: Scale) extends Workload {
  import NearDupService._

  private val rnd = new scala.util.Random(seed * 15485863L + 3)
  /** the model: the current corpus, doc_id -> text */
  private val corpus = mutable.LongMap.empty[String]
  private var nextId = 0L
  private var ts = 0L
  private var docs: LakeTable = _
  private var tables: Seq[TableBytes] = Nil
  private var state: Seq[TableBytes] = Nil
  private var pairsPath = ""
  private var query: StreamingQuery = _
  private var lastBatch = -1L
  private var submitted = 0L
  private var nearDups = 0

  private var ops = 0

  def primary: String = "churn"
  override def atCycleEnd: Boolean = ops % 2 == 0

  private def words(n: Int): Vector[String] =
    Vector.fill(n)("w" + rnd.nextInt(Vocabulary))

  /** A near-duplicate of `base`: two words substituted. The unique
    * last token keeps any two docs from being exact copies. */
  private def text(id: Long, base: Option[String]): String = {
    val body = base match {
      case Some(b) =>
        val w = b.split(' ').dropRight(1).toVector
        w.updated(rnd.nextInt(w.size), "w" + rnd.nextInt(Vocabulary))
          .updated(rnd.nextInt(w.size), "w" + rnd.nextInt(Vocabulary))
      case None => words(DocWords)
    }
    (body :+ s"d$id").mkString(" ")
  }

  private def randomDoc(): Long = {
    val ids = corpus.keysIterator.toVector
    ids(rnd.nextInt(ids.size))
  }

  private def newText(id: Long): String =
    if (corpus.nonEmpty && rnd.nextInt(100) < NearDupPercent) {
      nearDups += 1; text(id, Some(corpus(randomDoc())))
    } else text(id, None)

  def setup(c: Ctx, dir: String): Unit = {
    val s = c.spark
    import s.implicits._
    (0 until sc.docs).foreach { _ => corpus(nextId) = newText(nextId); nextId += 1 }
    docs = LakeTable.create(s, s"$dir/docs", TableProps(
      "docs", Seq("doc_id"), Some("ts"), Seq.empty, tableType = "mor"))
    val sigs = LakeTable.create(s, s"$dir/sigs", TableProps(
      "sigs", Seq("doc_id"), Some("ts"), Seq.empty,
      tableType = "mor", statsColumns = Seq("fp", "ts")))
    pairsPath = s"$dir/pairs"
    val pairs = LakeTable.create(s, pairsPath, TableProps(
      "pairs", Seq("a", "b"), Some("ts"), Seq.empty, tableType = "mor"))
    docs.upsert(corpus.toSeq.map { case (id, t) => (id, t, 0L) }.toDF("doc_id", "text", "ts"))
    query = NearDupMaintenance.start(s, docs.basePath, sigs.basePath, pairsPath,
      s"$dir/ckpt", clusterEvery = FoldEvery)
    query.processAllAvailable()
    lastBatch = query.lastProgress.batchId
    state = Seq(new TableBytes(c, sigs.basePath), new TableBytes(c, pairs.basePath))
    tables = new TableBytes(c, docs.basePath) +: state
  }

  def startMeasuring(): Unit = tables.foreach(_.reset())

  def next(c: Ctx): Unit = {
    val s = c.spark
    import s.implicits._
    ts += 1
    val edits = (0 until sc.churn / 2).map(_ => randomDoc()).distinct
    val fresh = (0 until sc.churn - sc.churn / 2).map(_ => { nextId += 1; nextId - 1 })
    val batch = (edits ++ fresh).map(id => id -> newText(id))
    val gone = (0 until sc.docDeletes).map(_ => randomDoc()).distinct.filterNot(edits.contains)
    val df = batch.map { case (id, t) => (id, t, ts) }.toDF("doc_id", "text", "ts")
    val keys = gone.toDF("doc_id")
    ops += 1
    c.op("churn") {
      c.trace.span("write.call")(docs.upsertWithDeletes(df, keys))
      c.trace.span("streaming.catchup")(query.processAllAvailable())
    } { _ =>
      batch.foreach { case (id, t) => corpus(id) = t }
      gone.foreach(corpus.remove)
      true
    }
    if (c.measuring) submitted += batch.size + gone.size
    progress(c)
    tables.head.update()
    val b0 = state.map(_.bytesAdded).sum
    val st = state.flatMap(_.update())
    c.trace.count("queries.state_commits", st.size.toDouble)
    c.trace.count("queries.state_bytes_added", (state.map(_.bytesAdded).sum - b0).toDouble)
  }

  /** Streaming phase spans and counters from the query's progress
    * reports of the batches the last op ran. */
  private def progress(c: Ctx): Unit = {
    val fresh = query.recentProgress.filter(_.batchId > lastBatch)
    fresh.lastOption.foreach(p => lastBatch = p.batchId)
    if (!c.trace.enabled || !c.measuring) return
    val parent = c.trace.spans.reverseIterator.find(_.name == "streaming.catchup")
    fresh.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def ms(k: String): Long = d.getOrElse(k, 0L)
      c.trace.count("streaming.batches", 1)
      c.trace.count("streaming.input_rows", p.numInputRows.toDouble)
      c.trace.count("streaming.add_batch_s", ms("addBatch") / 1e3)
      c.trace.count("streaming.source_s", (ms("latestOffset") + ms("getBatch")) / 1e3)
      c.trace.count("streaming.wal_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
      parent.foreach { par =>
        var t = c.trace.msToNs(Instant.parse(p.timestamp).toEpochMilli)
        Phases.foreach { ph =>
          val e = t + ms(ph) * 1000000L
          c.trace.addSpan("streaming." + ph, par, t, e)
          t = e
        }
      }
    }
  }

  def verify(c: Ctx): Boolean = {
    val s = c.spark
    import s.implicits._
    val model = corpus.toSeq.toDF("doc_id", "text")
    val gotDocs = docs.snapshot().select("doc_id", "text").as[(Long, String)].collect()
    val docsOk = gotDocs.length == corpus.size &&
      gotDocs.forall { case (id, t) => corpus.get(id).contains(t) }
    // batch MinHash-LSH recompute over the final corpus: the same
    // band keys, a band-key self-join, exact-Jaccard verification
    val bands = DedupOps.minhashBands(model)
      .select(col("doc_id"), explode(col("bands")).as("bk"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val want = DedupOps.verifyJaccard(cand, model).select("a", "b")
      .as[(Long, Long)].collect().toSet
    val got = LakeTable.load(s, pairsPath).snapshot().select("a", "b")
      .as[(Long, Long)].collect()
    val pairsOk = got.length == want.size && got.toSet == want
    if (!docsOk) c.log(s"neardup_service: docs table differs from the corpus model")
    if (!pairsOk) c.log(s"neardup_service: ${got.length} pairs, batch recompute ${want.size}")
    docsOk && pairsOk
  }

  override def close(): Unit =
    if (query != null) { query.stop(); query.awaitTermination(30000) }

  def rowsSubmitted: Long = submitted
  def bytesAdded: Long = tables.map(_.bytesAdded).sum
  def liveBytes: Long = tables.map(_.liveBytes()).sum
  def liveRows: Long = corpus.size.toLong

  def describe: String =
    s"neardup_service: docs=${sc.docs} words_per_doc=${DocWords + 1} " +
      s"near_dup_share=${"%.3f".format(nearDups.toDouble / math.max(1, nextId))} " +
      s"churn=${sc.churn} deletes=${sc.docDeletes} fold_every=$FoldEvery " +
      s"docs_bytes=${tables.head.liveBytes()}"

  def stateCounters(c: Ctx): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(
      "timeline.active_commits" -> tables.map(_.activeCommits()).sum.toDouble,
      "timeline.live_files" -> tables.map(_.liveFiles()).sum.toDouble,
      "timeline.meta_bytes" -> tables.map(_.metaBytes()).sum.toDouble,
      "queries.pairs_live" -> LakeTable.load(c.spark, pairsPath).snapshot().count().toDouble)
}

object NearDupService {
  val Vocabulary = 3000
  val DocWords = 30
  val NearDupPercent = 20
  val FoldEvery = 8
  /** micro-batch phases in the order the engine runs them */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
}
