package graft

import graft.store.StateStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** The manifest protocol's data layout: flat commit directories with
  * `collection` as a data column, read as one parquet scan per generation,
  * and tables written in the older hive layout (`d-<commit>/collection=N/`)
  * still read, streamed and compacted correctly. */
class ManifestLayoutSpec extends SparkTestBase {

  private type Row6 = (Int, String, Long, String, String, Boolean)

  private def rowsOf(df: DataFrame): Seq[Row6] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
      r.getString(3), new String(r.getAs[Array[Byte]](4), "UTF-8"),
      r.getBoolean(5))).toSeq.sorted

  private def scansAndUnions(df: DataFrame): (Int, Int) = {
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }.size
    val unions = df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.size
    (scans, unions)
  }

  test("readAt on a multi-commit manifest table plans one parquet scan and " +
    "no union") {
    implicit val s = spark
    val store = new StateStore(tmpDir("one-scan"), StateStore.ManifestCommit)
    (0L until 5L).foreach { h =>
      store.writeBatch(Seq(model.WriteRequest(h, model.BlockRef(s"blk-$h", h),
        Seq(model.TabletRowM(1, "t1", h, "a", s"a$h".getBytes("UTF-8"), false),
          model.TabletRowM(2, "u1", h, "b", s"b$h".getBytes("UTF-8"), false)),
        Nil)))
    }
    val t = store.manifestTableFor(store.tabletRowsPath)
    val gen = t.currentGeneration().get
    assert(t.manifestEntries(gen).size === 5)
    val df = t.readAt(gen)
    assert(scansAndUnions(df) === ((1, 0)), df.queryExecution.sparkPlan.toString)
    assert(df.count() === 10L)
    // Flat layout: no hive directory inside any commit directory.
    assert(t.manifestEntries(gen).flatMap(_._2).forall(_.count(_ == '/') == 1))
  }

  // Written by the hive-layout writer (three writeBatch commits, collections
  // 1 and 2): every data file sits under d-<commit>/collection=N/ and holds
  // no `collection` column.
  private val gen1: Seq[Row6] = Seq(
    (1, "t1", 0L, "a", "a0", false), (2, "u1", 0L, "x", "x0", false))
  private val gen2: Seq[Row6] = Seq(
    (1, "t1", 1L, "a", "a1", false), (1, "t1", 1L, "b", "b1", false),
    (2, "u1", 1L, "y", "y1", false))
  private val gen3: Seq[Row6] = Seq(
    (1, "t1", 2L, "b", "", true), (2, "u1", 2L, "x", "x2", false))

  private def legacyStore(): StateStore = {
    val root = tmpDir("legacy-layout")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(getClass.getResource("/legacy-hive-tablet-rows").toURI),
      new java.io.File(s"$root/tablet_rows"))
    new StateStore(root, StateStore.ManifestCommit)(spark)
  }

  test("old hive-layout tables read with correct collections at head and " +
    "as of an older generation, stream them, and compact to the flat layout") {
    implicit val s = spark
    val store = legacyStore()
    val t = store.manifestTableFor(store.tabletRowsPath)
    assert(t.currentGeneration() === Some(3L))
    assert(t.manifestEntries(3L).flatMap(_._2).forall(_.contains("/collection=")))

    assert(rowsOf(store.tabletRows) === (gen1 ++ gen2 ++ gen3).sorted)
    val asOf2 = t.readAt(2L)
    assert(rowsOf(asOf2) === (gen1 ++ gen2).sorted)
    assert(scansAndUnions(asOf2) === ((1, 0)), asOf2.queryExecution.sparkPlan.toString)
    assert(rowsOf(store.tabletRows.filter(org.apache.spark.sql.functions.col(
      "collection") === 2)) === (gen1 ++ gen2 ++ gen3).filter(_._1 == 2).sorted)

    val out = tmpDir("legacy-cf-out")
    val q = store.changefeedStream("0").writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", tmpDir("legacy-cf-ck"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val fed = spark.read.parquet(out)
    assert(rowsOf(fed.select(model.Schemas.tabletRows.fieldNames.toSeq
      .map(org.apache.spark.sql.functions.col): _*)) === (gen1 ++ gen2 ++ gen3).sorted)
    assert(fed.select("_generation", "collection", "primary_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ===
      Set((1L, 1, "a"), (1L, 2, "x"), (2L, 1, "a"), (2L, 1, "b"), (2L, 2, "y"),
        (3L, 1, "b"), (3L, 2, "x")))

    assert(store.compactTabletRows(numFiles = 1) === 3L)
    val head = t.currentGeneration().get
    val live = t.manifestEntries(head).flatMap(_._2)
    assert(live.nonEmpty && live.forall(!_.contains("=")), live)
    assert(rowsOf(store.tabletRows) === (gen1 ++ gen2 ++ gen3).sorted)
  }
}
