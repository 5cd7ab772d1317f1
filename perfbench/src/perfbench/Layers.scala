package perfbench

/** The per-layer metric set, named `<module>.<op>.<counter>` after the
  * repository's packages, and its computation from a traced run's spans. */
object Layers {

  val AllCounters = Seq("wall_s", "jobs", "tasks", "files_scanned", "shuffle_bytes", "driver_only_s")

  val CycleOps = Seq("streaming.ingest_batch", "streaming.serve_drain",
    "streaming.serve_read_row", "streaming.serve_compact", "store.compact")
  val SetupOps = Seq("store.write_batch", "snapshot.build_index")
  val ReadOps = Seq("store.read_tablet_at", "store.read_tablet_at_snap",
    "store.read_tablet_at_overlay", "store.read_row_at", "store.read_row_at_snap",
    "store.read_singlet_at", "store.read_singlet_history", "store.asof_join", "store.read_diff")
  val Queries = Seq("p_ann_ivfpq", "p_ann_ivf", "p_bpe_encode", "p_bpe_train", "p_dedup_embed",
    "p_dedup_ngram_jaccard", "p_dedup_minhash_lsh", "p_graph_pagerank", "p_span_dedup",
    "q1_agg", "q5_join_agg", "q_cube")
  val Kernels = Seq("pq_encode", "array_dot_product", "word_ngrams", "bpe_apply_merges")

  def unit(counter: String): String = counter match {
    case "wall_s" | "driver_only_s" | "compacted_wall_s" => "s"
    case "shuffle_bytes" => "bytes"
    case "rows_per_s" => "rows/s"
    case _ => "count"
  }

  /** (name, unit) of every per-layer metric, in report order. */
  val names: Seq[(String, String)] = {
    val ops = (CycleOps ++ ReadOps).flatMap(op => AllCounters.map(c => s"$op.$c")) ++
      SetupOps.flatMap(op => Seq("wall_s", "jobs", "driver_only_s").map(c => s"$op.$c")) ++
      ReadOps.map(op => s"$op.compacted_wall_s") ++
      Queries.flatMap(q => Seq(s"queries.$q.wall_s", s"queries.$q.shuffle_bytes")) ++
      Kernels.map(k => s"functions.$k.rows_per_s")
    ops.map(n => n -> unit(n.split('.').last))
  }

  /** Median of each counter over the spans of each op, leaving out the
    * set-up's warm-up calls; read ops on the compacted store report only
    * `compacted_wall_s`. An op the workload never calls reads 0. */
  def metrics(spans: Seq[(Span, Map[String, Double])],
      kernelRows: Map[String, Long]): Map[String, (Double, String)] = {
    val byOp = spans.filter(_._1.phase != "warm").groupBy { case (s, _) =>
      if (s.phase == "compacted" && ReadOps.contains(s.name)) s.name + "#compacted" else s.name
    }
    def med(op: String, counter: String): Double =
      Main.median(byOp.getOrElse(op, Nil).map(_._2(counter)))
    names.map { case (n, u) =>
      val parts = n.split('.')
      val op = parts.init.mkString(".")
      val v = parts.last match {
        case "compacted_wall_s" => med(op + "#compacted", "wall_s")
        case "rows_per_s" =>
          val wall = med(op, "wall_s")
          if (wall > 0) kernelRows.getOrElse(parts(1), 0L) / wall else 0.0
        case c => med(op, c)
      }
      n -> (v, u)
    }.toMap
  }

  /** Every span, one JSON object per line. */
  def write(path: String, spans: Seq[(Span, Map[String, Double])]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { case (s, c) =>
      w.println(Main.json(Map("run" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ c))
    } finally w.close()
  }
}
