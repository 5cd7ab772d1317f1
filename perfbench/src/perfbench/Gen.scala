package perfbench

import scala.collection.mutable

import graft.model.{BlockRef, SingletEntryM, TabletRowM, WriteRequest}
import graft.streaming.StreamedBlock

/** One mutation as the model keeps it: `value` is empty for a tombstone. */
final case class Mut(height: Long, value: String, del: Boolean)

/** Seeded block generator plus the in-memory last-write-wins model every
  * read is checked against.
  *
  * Blocks carry `rowsPerBlock` tablet rows over 20,000 keys spread across
  * 16 tablets. Keys are drawn Zipf-skewed (exponent 1.1), the rank → key
  * mapping is a seeded permutation so hot keys land in every tablet, a key
  * appears at most once per block, and about 5% of the rows are deletions.
  * Every block also writes one entry to one of 8 singlets.
  *
  * Generation is strictly sequential in height: `next()` returns the block
  * at `head + 1` and records it in the model, so the model always equals
  * what was handed to the store. Nothing here touches Spark.
  */
final class Gen(seed: Long, val rowsPerBlock: Int = 500) {
  private val nKeys = 20000
  private val nTablets = 16
  private val nSinglets = 8
  private val zipfS = 1.1
  private val tombstoneP = 0.05

  private val rng = new java.util.SplittableRandom(seed)

  private val keyOfRank: Array[Int] = {
    val a = Array.tabulate(nKeys)(identity)
    var i = nKeys - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(nKeys)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def tabletOf(key: Int): String = f"t${key % nTablets}%02d"
  def pkOf(key: Int): String = f"k$key%06d"
  val tablets: IndexedSeq[String] = (0 until nTablets).map(i => f"t$i%02d")
  val singlets: IndexedSeq[String] = (0 until nSinglets).map(i => f"s$i%02d")

  private def drawKey(): Int = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = nKeys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    keyOfRank(lo)
  }

  // ---- model ---------------------------------------------------------
  /** (tablet, pk) → mutations in height order. */
  val rows = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Mut]]
  /** tablet → pks ever written. */
  val pksOf = mutable.HashMap.empty[String, mutable.TreeSet[String]]
  /** singlet → entries in height order. */
  val entries = mutable.HashMap.empty[String, mutable.ArrayBuffer[Mut]]
  var head: Long = 0L
  var rowsGenerated: Long = 0L

  /** The next block, recorded in the model. Heights start at 1. */
  def next(): (Long, Seq[TabletRowM], Seq[SingletEntryM]) = {
    head += 1
    val h = head
    val seen = mutable.HashSet.empty[Int]
    val out = mutable.ArrayBuffer.empty[TabletRowM]
    var i = 0
    while (out.size < rowsPerBlock) {
      val k = drawKey()
      if (seen.add(k)) {
        val del = rng.nextDouble() < tombstoneP
        val v = if (del) "" else s"v$h.$i"
        val t = tabletOf(k)
        val pk = pkOf(k)
        out += TabletRowM(0, t, h, pk, v.getBytes("UTF-8"), del)
        rows.getOrElseUpdate((t, pk), mutable.ArrayBuffer.empty) += Mut(h, v, del)
        pksOf.getOrElseUpdate(t, mutable.TreeSet.empty) += pk
        i += 1
      }
    }
    val s = singlets(rng.nextInt(nSinglets))
    val sdel = rng.nextDouble() < tombstoneP
    val sv = if (sdel) "" else s"s$h"
    entries.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += Mut(h, sv, sdel)
    rowsGenerated += out.size
    (h, out.toSeq, Seq(SingletEntryM(0, s, h, sv.getBytes("UTF-8"), sdel)))
  }

  def nextRequest(): WriteRequest = {
    val (h, rs, es) = next()
    WriteRequest(h, BlockRef(s"b$h", h), rs, es)
  }

  def nextStreamed(): StreamedBlock = {
    val (h, rs, es) = next()
    StreamedBlock(s"b$h", s"b${h - 1}", h, StreamedBlock.StepIrreversible, rs, es)
  }

  /** Seeded choices for the read sequence, from a stream independent of the
    * block stream so the reads never perturb the data. */
  var pick = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)

  /** Restart the read choices (self-test: replay one read sequence). */
  def resetPicks(): Unit = pick = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)

  /** A height in [1, head] favouring recent ones: 3 in 4 picks land in the
    * newest quarter of history, the rest anywhere. */
  def pickHeight(): Long =
    if (pick.nextInt(4) > 0) head - pick.nextLong(math.max(1L, head / 4))
    else 1L + pick.nextLong(head)

  def pickKey(tablet: String): String = {
    val ks = pksOf(tablet)
    ks.iterator.drop(pick.nextInt(ks.size)).next()
  }

  // ---- model answers ---------------------------------------------------
  /** Self-test switch: every model answer below comes out wrong. */
  var perturb = false
  private def bent(v: String): String = if (perturb) v + "~" else v

  private def latest(ms: Iterable[Mut], at: Long): Option[Mut] =
    ms.takeWhile(_.height <= at).lastOption

  def rowAt(tablet: String, pk: String, at: Long): Option[(Long, String)] = {
    val r = rows.get((tablet, pk)).flatMap(latest(_, at)).filterNot(_.del).map(m => (m.height, m.value))
    if (perturb) Some(r.fold((-1L, "~"))(x => (x._1, bent(x._2)))) else r
  }

  /** Live rows of `tablet` as of `at`, sorted by pk: (pk, height, value). */
  def tabletAt(tablet: String, at: Long): Seq[(String, Long, String)] =
    pksOf.getOrElse(tablet, mutable.TreeSet.empty[String]).toSeq.flatMap { pk =>
      rowAt(tablet, pk, at).map { case (h, v) => (pk, h, v) }
    }

  /** [[tabletAt]] with one speculative block (all rows at `at`) applied on
    * top: speculative rows rank above durable ones. */
  def tabletAtOverlay(tablet: String, at: Long, spec: Seq[TabletRowM]): Seq[(String, Long, String)] = {
    val base = tabletAt(tablet, at).map(r => r._1 -> r).toMap
    val over = spec.filter(r => r.tabletId == tablet && r.height <= at)
    val merged = over.foldLeft(base) { (m, r) =>
      if (r.isDeletion) m - r.primaryKey
      else m + (r.primaryKey -> ((r.primaryKey, r.height, bent(new String(r.value, "UTF-8")))))
    }
    merged.values.toSeq.sortBy(_._1)
  }

  def singletAt(s: String, at: Long): Option[(Long, String)] = {
    val r = entries.get(s).flatMap(latest(_, at)).filterNot(_.del).map(m => (m.height, m.value))
    if (perturb) Some(r.fold((-1L, "~"))(x => (x._1, bent(x._2)))) else r
  }

  /** Full history, newest first: (height, value, isDeletion). */
  def singletHistory(s: String): Seq[(Long, String, Boolean)] =
    entries.getOrElse(s, mutable.ArrayBuffer.empty[Mut]).reverseIterator
      .map(m => (m.height, bent(m.value), m.del)).toSeq ++
      (if (perturb) Seq((-1L, "~", false)) else Nil)

  /** State diff of `tablet` over (from, to]: (pk, change, changeHeight,
    * oldValue, newValue), sorted by pk. */
  def diff(tablet: String, from: Long, to: Long)
      : Seq[(String, String, Long, Option[String], Option[String])] =
    pksOf.getOrElse(tablet, mutable.TreeSet.empty[String]).toSeq.flatMap { pk =>
      val ms = rows((tablet, pk))
      val pre = latest(ms, from).filterNot(_.del)
      latest(ms, to).filter(_.height > from).flatMap { post =>
        (pre, post.del) match {
          case (None, false) => Some((pk, "added", post.height, None, Some(bent(post.value))))
          case (Some(p), true) => Some((pk, "deleted", post.height, Some(bent(p.value)), None))
          case (Some(p), false) =>
            Some((pk, "updated", post.height, Some(bent(p.value)), Some(bent(post.value))))
          case (None, true) => None
        }
      }
    } ++ (if (perturb) Seq(("~", "added", -1L, None, None)) else Nil)

  /** Last-write-wins state with tombstones removed: (tablet, pk) → (height, value). */
  def liveState: Map[(String, String), (Long, String)] =
    rows.iterator.flatMap { case (k, ms) =>
      val m = ms.last
      if (m.del) None else Some(k -> ((m.height, bent(m.value))))
    }.toMap ++ (if (perturb) Map(("~", "~") -> ((-1L, "~"))) else Map.empty)
}
