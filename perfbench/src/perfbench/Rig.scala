package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.TabletRowM
import graft.snapshot.Snapshots
import graft.store.StateStore
import graft.streaming.{IngestionPipeline, StateMaterializer, StreamedBlock}

/** The store under test and everything the benchmark does to it, each call
  * wrapped in a span named after the layer it enters. Every read is
  * checked against the generator's model; a wrong answer counts as a
  * failed operation.
  */
final class Rig(root: String, val gen: Gen, tr: Tracer, checks: Checks)(
    implicit spark: SparkSession) {
  import spark.implicits._

  val store = new StateStore(root, StateStore.ManifestCommit)
  val target = s"$root/serving"
  /** Tablets that get a TabletIndex snapshot; reads on the rest take the
    * snapshot-free route. */
  val snapTablets: Seq[String] = gen.tablets.take(4)
  val plainTablets: Seq[String] = gen.tablets.drop(4)
  var snapHeight: Long = 0L

  /** Optional extra step applied to one read op's result (self-test). */
  var inject: Option[(String, DataFrame => DataFrame)] = None

  private def str(b: Array[Byte]): String = if (b == null) null else new String(b, "UTF-8")

  private def collect(op: String, df: DataFrame): Array[Row] =
    inject.filter(_._1 == op).fold(df)(_._2(df)).collect()

  // ---- writes --------------------------------------------------------
  def writeBatch(blocks: Int): Unit = {
    val reqs = Seq.fill(blocks)(gen.nextRequest())
    tr.span("store.write_batch")(store.writeBatch(reqs))
  }

  def buildSnapshots(): Unit = {
    snapHeight = gen.head
    snapTablets.foreach { t =>
      val squelch = gen.rows.iterator.collect { case ((tt, _), ms) if tt == t => ms.size.toLong }.sum
      tr.span("snapshot.build_index") {
        val idx = Snapshots.buildTabletIndex(store.tabletRows, t, snapHeight)
        store.writeTabletSnapshot(idx, t, snapHeight, squelch)
      }
    }
  }

  // ---- streaming -----------------------------------------------------
  private var blocks: MemoryStream[StreamedBlock] = _
  var ingest: StreamingQuery = _
  var serve: StreamingQuery = _

  // A block is irreversible as soon as it arrives, so every batch reaches
  // storage; a zero-interval trigger starts the next micro-batch as soon as
  // data is there.
  private def startIngest(): Unit =
    ingest = new IngestionPipeline(store)
      .start(blocks.toDS(), s"$root/_ck_ingest", triggerMillis = 0L)
  private def startServe(): Unit =
    serve = StateMaterializer.start(store, target, s"$root/_ck_serve")

  def startStreams(): Unit = {
    implicit val ctx = spark.sqlContext
    blocks = MemoryStream[StreamedBlock]
    startIngest()
    startServe()
    val done = tr.bindStream("streaming.serve_drain", serve.id.toString)
    val t0 = System.nanoTime()
    awaitServe()
    done(t0)
  }

  /** Wait until a stream has processed everything available. A stream that
    * died is a failed operation: it is restarted once from its checkpoint,
    * which resumes exactly where it stopped, and waited for again. */
  private def await(op: String, q: () => StreamingQuery, restart: () => Unit): Unit =
    try q().processAllAvailable()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        checks.error(op, e)
        restart()
        q().processAllAvailable()
    }
  private def awaitIngest(): Unit = await("streaming.ingest_batch", () => ingest, () => startIngest())
  private def awaitServe(): Unit = await("streaming.serve_drain", () => serve, () => startServe())

  def stopStreams(): Unit = {
    Option(ingest).foreach(_.stop())
    Option(serve).foreach(_.stop())
  }

  /** Hand one batch to the pipeline and wait until it is durable and
    * then until the serving table reflects it. Returns (commit s, serve
    * lag s), both from the handoff. */
  def ingestBatch(nBlocks: Int): (Double, Double) = {
    val bs = Seq.fill(nBlocks)(gen.nextStreamed())
    val ingestDone = tr.bindStream("streaming.ingest_batch", ingest.id.toString)
    val serveDone = tr.bindStream("streaming.serve_drain", serve.id.toString)
    val t0 = System.nanoTime()
    blocks.addData(bs)
    awaitIngest()
    val t1 = System.nanoTime()
    ingestDone(t0)
    awaitServe()
    val t2 = System.nanoTime()
    serveDone(t1)
    ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
  }

  /** Compact the store's tablet rows and, when `serving`, the serving
    * table. The store compaction is a new generation on the changefeed, so
    * the serving stream first takes it in; the two compactions never
    * overlap a serving merge. */
  def compact(serving: Boolean): Unit = {
    tr.span("store.compact")(store.compactTabletRows())
    if (serving) {
      awaitServe()
      tr.span("streaming.serve_compact")(StateMaterializer.compact(target))
    }
  }

  // ---- reads ---------------------------------------------------------
  private def pickOf(ts: Seq[String]): String = ts(gen.pick.nextInt(ts.size))

  def serveReadRow(): Unit = {
    val t = pickOf(gen.tablets)
    val pk = gen.pickKey(t)
    val got = tr.span("streaming.serve_read_row") {
      collect("streaming.serve_read_row", StateMaterializer.readRow(target, t, pk))
    }.map(r => (r.getAs[Long]("height"), str(r.getAs[Array[Byte]]("value")))).toSeq
    val want = gen.rowAt(t, pk, gen.head).toSeq
    checks("streaming.serve_read_row", got == want, s"$t/$pk got $got want $want")
  }

  private def tabletRows(rs: Array[Row]): Seq[(String, Long, String)] =
    rs.map(r => (r.getString(0), r.getLong(1), str(r.getAs[Array[Byte]](2)))).toSeq

  private def tabletAt(op: String, t: String, h: Long): Unit = {
    val got = tabletRows(tr.span(op)(collect(op, store.readTabletAt(t, h))))
    val want = gen.tabletAt(t, h)
    checks(op, got == want, s"$t@$h ${got.size} rows, want ${want.size}")
  }

  private def rowAt(op: String, t: String): Unit = {
    val pk = gen.pickKey(t)
    val h = if (snapTablets.contains(t)) snapHeight + gen.pick.nextLong(gen.head - snapHeight + 1)
            else gen.pickHeight()
    val got = tabletRows(tr.span(op)(collect(op, store.readTabletRowAt(t, pk, h))))
      .map(r => (r._2, r._3))
    val want = gen.rowAt(t, pk, h).toSeq
    checks(op, got == want, s"$t/$pk@$h got $got want $want")
  }

  /** One speculative block on top of the durable head: updates, deletes
    * and fresh keys of one tablet at height head + 1. */
  private def overlay(): Unit = {
    val t = pickOf(plainTablets)
    val h = gen.head + 1
    val spec = (0 until 40).map { i =>
      val pk = if (i % 4 == 3) f"n$h%06d$i%02d" else gen.pickKey(t)
      (pk, i % 5 == 4)
    }.toMap.toSeq.map { case (pk, del) =>
      TabletRowM(0, t, h, pk, (if (del) "" else s"spec$h.$pk").getBytes("UTF-8"), del)
    }
    val specDf = spec.toDF(StateStore.tabletRowCols: _*)
    val op = "store.read_tablet_at_overlay"
    val got = tabletRows(tr.span(op)(collect(op, store.readTabletAt(t, h, Seq(specDf)))))
    val want = gen.tabletAtOverlay(t, h, spec)
    checks(op, got == want, s"$t@$h ${got.size} rows, want ${want.size}")
  }

  private def singletAt(): Unit = {
    val s = pickOf(gen.singlets)
    val h = gen.pickHeight()
    val op = "store.read_singlet_at"
    val got = tr.span(op)(collect(op, store.readSingletEntryAt(s, h)))
      .map(r => (r.getLong(1), str(r.getAs[Array[Byte]](2)))).toSeq
    val want = gen.singletAt(s, h).toSeq
    checks(op, got == want, s"$s@$h got $got want $want")
  }

  private def singletHistory(): Unit = {
    val s = pickOf(gen.singlets)
    val op = "store.read_singlet_history"
    val got = tr.span(op)(collect(op, store.readSingletEntries(s)))
      .map(r => (r.getLong(1), str(r.getAs[Array[Byte]](2)), r.getBoolean(3))).toSeq
    val want = gen.singletHistory(s)
    checks(op, got == want, s"$s ${got.size} entries, want ${want.size}")
  }

  private def asOfJoin(): Unit = {
    val t = pickOf(gen.tablets)
    val probes = (0 until 300).map(i => (i.toLong, t, gen.pickKey(t), gen.pickHeight()))
    val df = probes.toDF("probe_id", "tablet_id", "primary_key", "at_height")
    val op = "store.asof_join"
    val got = tr.span(op)(collect(op, store.asOfJoin(t, df))).map { r =>
      (r.getLong(0), if (r.isNullAt(4)) None else Some((r.getLong(4), str(r.getAs[Array[Byte]](5)))))
    }.toSeq
    val want = probes.map { case (id, _, pk, h) => (id, gen.rowAt(t, pk, h)) }
    checks(op, got == want, s"$t ${got.count(_._2.nonEmpty)} hits, want ${want.count(_._2.nonEmpty)}")
  }

  private def diff(): Unit = {
    val t = pickOf(gen.tablets)
    val to = gen.pickHeight()
    val from = math.max(0L, to - 10)
    val op = "store.read_diff"
    val got = tr.span(op)(collect(op, store.readTabletDiff(t, from, to))).map { r =>
      (r.getString(0), r.getString(1), r.getLong(2),
        Option(str(r.getAs[Array[Byte]](3))), Option(str(r.getAs[Array[Byte]](4))))
    }.toSeq
    val want = gen.diff(t, from, to)
    checks(op, got == want, s"$t ($from,$to] ${got.size} changes, want ${want.size}")
  }

  /** One read of every kind on the store, in a fixed order; the seed picks
    * tablets, keys and heights. Returns each read's op name and latency. */
  val readKinds: Seq[(String, () => Unit)] = Seq(
    "store.read_tablet_at" -> (() => tabletAt("store.read_tablet_at", pickOf(plainTablets), gen.pickHeight())),
    "store.read_tablet_at_snap" -> (() => tabletAt("store.read_tablet_at_snap", pickOf(snapTablets),
      snapHeight + gen.pick.nextLong(gen.head - snapHeight + 1))),
    "store.read_tablet_at_overlay" -> (() => overlay()),
    "store.read_row_at" -> (() => rowAt("store.read_row_at", pickOf(plainTablets))),
    "store.read_row_at_snap" -> (() => rowAt("store.read_row_at_snap", pickOf(snapTablets))),
    "store.read_singlet_at" -> (() => singletAt()),
    "store.read_singlet_history" -> (() => singletHistory()),
    "store.asof_join" -> (() => asOfJoin()),
    "store.read_diff" -> (() => diff()))

  def readRound(): Seq[(String, Double)] = readKinds.map { case (op, run) =>
    val t0 = System.nanoTime()
    run()
    op -> (System.nanoTime() - t0) / 1e9
  }

  // ---- whole-store checks -------------------------------------------
  /** The serving table equals the model's live state with tombstones
    * removed. */
  def checkServing(): Unit = {
    val served = StateMaterializer.read(target)
      .select("tablet_id", "primary_key", "height", "value").collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), str(r.getAs[Array[Byte]](3)))))
      .toMap
    val want = gen.liveState
    checks("serving_table", served == want, s"${served.size} live keys, want ${want.size}")
  }

  /** The store holds every generated row and the checkpoint sits at the
    * last height. */
  def checkStore(): Unit = {
    val n = store.tabletRows.count()
    checks("store_row_count", n == gen.rowsGenerated, s"$n rows, want ${gen.rowsGenerated}")
    val cp = store.checkpointFresh(StateStore.GlobalCheckpointKey).map(_.height)
    checks("checkpoint", cp.contains(gen.head), s"checkpoint $cp, want ${gen.head}")
  }
}
