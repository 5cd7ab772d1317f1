package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.store.{ManifestTable, StateStore}

/** Incrementally-maintained SERVING TABLE: the changefeed folded into a
  * queryable current-state table — the end of the pipe the changefeed
  * source opens (mutation log → subscription → materialized view).
  *
  * Shape: one streaming query per (store, tablet table). Each micro-batch
  * (one commit once caught up) reduces to its per-key winners — the same
  * argmax the read path uses — and COPY-ON-WRITE merges them into a
  * [[ManifestTable]] target ([[ManifestTable.merge]]): only files whose
  * manifest bounds can contain a touched key are rewritten, everything
  * else carries into the new generation verbatim. The target then serves
  * `readTabletAt(head)`-shaped queries with NO argmax at all — the state
  * is already collapsed — and point reads prune files driver-side from
  * the target's own (tablet_id, primary_key) manifest stats.
  *
  * Exactly-once: the engine checkpoints the changefeed's generation
  * offsets; `foreachBatch` re-runs the last batch after a crash, and two
  * guards absorb that — the merge commitId is (run token, batchId), so a
  * same-run replay skips outright and a cross-run replay re-merges under
  * a new id, which the merge's argmax makes a no-op (tombstones are
  * RETAINED in the target — filtered at read — so even a redelivered
  * mutation below an applied delete cannot revive the key). The
  * touched-key collect inside merge is micro-batch-bounded here by
  * construction (one commit's keys).
  *
  * At 100 TB: the serving table's write amplification per commit is
  * O(files containing that commit's keys), not O(table) — with the
  * target compacted/z-ordered that is a handful of files per micro-batch
  * — and the read side never replays history. This is the materialized
  * twin of what the reference serves from its KV store head state.
  */
object StateMaterializer {

  val KeyCols: Seq[String] = Seq("tablet_id", "primary_key")

  /** The target's manifest table handle: same schema and layout as the
    * mutation table, stats on the MERGE KEYS so both merge file-matching
    * and point-read pruning work from the manifest alone. */
  def targetTable(targetPath: String)(implicit spark: SparkSession): ManifestTable =
    new ManifestTable(targetPath, Schemas.tabletRows,
      statsCols = Seq("tablet_id", "primary_key"))

  /** Start maintaining `targetPath` from `store`'s changefeed. The
    * returned query runs until stopped; restart with the same
    * `checkpointDir` resumes exactly where it left off. */
  def start(
      store: StateStore,
      targetPath: String,
      checkpointDir: String,
      startingGeneration: String = "0",
      targetHandle: Option[ManifestTable] = None): StreamingQuery = {
    implicit val spark: SparkSession = store.tabletRows.sparkSession
    // Caller-supplied handle lets an embedder read the MERGE side's
    // publish-contention counters (lost races / fenced / rebased live on
    // the ManifestTable instance doing the publishing — a separate
    // handle on the same path shows zeros).
    val target = targetHandle.getOrElse(targetTable(targetPath))
    // Fresh token per start(): the merge commitId must be unique per
    // (stream run, batch) — a bare batchId would collide with a previous
    // checkpoint's batches against the same target (cleared/new
    // checkpoint dir restarts numbering at 0) and silently no-op merges
    // whose contents differ. Within one run a crash-replayed batch keeps
    // its id → skipped; across runs a replayed batch gets a new id →
    // re-merged, which the merge's argmax absorbs (keepTombstones keeps
    // the delete→redeliver guard intact too).
    val runToken = java.util.UUID.randomUUID().toString.take(8)
    // Own scheduler pool, like the ingestion pipeline: a serving merge is
    // a multi-second job queue, and under FIFO it starves a co-located
    // ingest's 1 s trigger (soak-measured: 60–80 s ingest stalls behind
    // one merge). Run the session with spark.scheduler.mode=FAIR when
    // subscriptions share the ingest process; no-op under FIFO.
    IngestionPipeline.inPool(spark, "graft-serve") {
      store.changefeedStream(startingGeneration)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val winners = graft.read.TemporalReads
            .latestPerKey(
              batch.select(Schemas.tabletRows.fieldNames.map(col).toSeq: _*),
              KeyCols, Seq("value", "collection"))
            .select(Schemas.tabletRows.fieldNames.map(col).toSeq: _*)
          target.merge(winners, KeyCols, orderCol = "height",
            deleteCol = "is_deletion", commitId = f"cf-$runToken-b$batchId%09d",
            keepTombstones = true)
          ()
        }
        .start()
    }
  }

  /** The serving read: current live state, no argmax (already collapsed
    * by merge; retained tombstones filtered here). Scope with ordinary
    * predicates; point lookups go through [[readRow]] for manifest-stats
    * file pruning. */
  def read(targetPath: String)(implicit spark: SparkSession): DataFrame =
    targetTable(targetPath).read().where(!col("is_deletion"))

  /** Collapse the target's accreted merge generations into ONE compacted,
    * range-partitioned generation. Each merge appends a generation and
    * rewrites the manifest whole, so the live file count and manifest
    * size grow per micro-batch — periodic compaction restores the steady
    * state, exactly like the store's own mutation-table compaction.
    * Contents INCLUDING retained tombstones are preserved (a compaction
    * that dropped tombstones would reopen the delete→redeliver revive
    * hole); fresh per-file stats are collected, so merge pruning and
    * point reads keep working — and work better, since range
    * partitioning re-tightens every file's key bounds. Safe BESIDE the
    * live materializer: the publish is optimistic — a merge landing
    * mid-compaction wins or loses the generation race loudly, and the
    * loser here re-derives the replacement from the new head
    * ([[ManifestTable.replaceAllRetrying]]), so no serve pause is needed
    * (the pre-optimistic protocol required stop-serve/compact/restart).
    * Reclaim old generations with `sweepOrphans`/`sweepOrphanFiles`
    * afterwards — with a `minAgeMillis` comfortably above the longest
    * merge when the materializer keeps running. */
  def compact(targetPath: String, numFiles: Int = 0)(
      implicit spark: SparkSession): Unit = {
    val t = targetTable(targetPath)
    val n =
      if (numFiles > 0) numFiles
      else spark.sessionState.conf.numShufflePartitions
    t.replaceAllRetrying(
      () => t.read()
        .repartitionByRange(n, KeyCols.map(col): _*)
        .sortWithinPartitions(KeyCols.map(col): _*),
      commitId = "compact-" + java.util.UUID.randomUUID().toString)
  }

  /** Point lookup on the serving table: the file list is pruned
    * driver-side from the target's manifest bounds before any footer is
    * read — the serving-side analog of the store's snapshot-routed point
    * read. */
  def readRow(targetPath: String, tabletId: String, primaryKey: String)(
      implicit spark: SparkSession): DataFrame =
    targetTable(targetPath)
      .readPruned(Seq(
        ManifestTable.StatsEq("tablet_id", tabletId),
        ManifestTable.StatsEq("primary_key", primaryKey)))
      .filter(col("tablet_id") === lit(tabletId) &&
        col("primary_key") === lit(primaryKey) && !col("is_deletion"))
}
