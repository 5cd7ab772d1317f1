package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Store-first benchmark: one closed-loop client drives the store through
  * its public entry points and checks every answer against a model.
  *
  *   ingest_serve  batches through IngestionPipeline → changefeed →
  *                 StateMaterializer, serving point reads, inline compaction
  *   asof_reads    the fluxdb read operators on an accreted store, then the
  *                 same reads after compaction
  *
  * Traced runs (`--trace 1`) then add a control phase that never touches
  * the store: twelve analytics queries and four kernels. They report
  * per-layer counters instead of the end-to-end metrics. The last stdout
  * line is the result object.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "20").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("selftest", "0") == "1")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The median beside the highest percentile with at least ten samples
    * beyond it, as a diagnostic line. */
  def describe(name: String, xs: Seq[Double]): String = {
    val s = xs.sorted
    val tail = Seq(99.0, 95.0, 90.0, 75.0).find(p => s.size * (1 - p / 100) >= 10)
      .map { p => f"p${p.toInt}=${s(math.ceil(p / 100 * s.size).toInt - 1)}%.4f" }
      .getOrElse("no percentile has 10 samples beyond it")
    f"$name: p50=${median(s)}%.4f $tail (n=${s.size})"
  }

  /** `Bench`'s fixed-work calibration probe: a 1e8-row bit_xor range. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("bit_xor(id * 2654435761)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU seconds this process has used, all threads. Time the host steals
    * from the VM is not in it. */
  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use after full collections. Spark releases broadcast and
    * shuffle state asynchronously once their owners are collected, so
    * collect a few times and keep the smallest reading. */
  def heapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    implicit val spark: SparkSession = session(a.work)
    val code =
      try {
        if (a.selftest) SelfTest.run(a)
        else run(a)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    // Streams and listeners end with the session; nothing outlives it.
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
    System.exit(code)
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Run `step` `n` times; returns the seconds used. */
  def repeat(n: Int)(step: => Unit): Double = {
    val t0 = System.nanoTime()
    (0 until n).foreach(_ => step)
    (System.nanoTime() - t0) / 1e9
  }

  val Batch = 10 // blocks per batch: 5,000 rows, the reference flush size
  val Generations = 6 // asof_reads: live generations before compaction
  val CompactEvery = 2 // ingest_serve: batches per accrete → compact cycle

  // The timed work is a whole number of units fixed by --seconds, never cut
  // by a clock: a run that fits one more unit on a fast host would average
  // a different mix of cold and warm calls. On 4 cores an ingest cycle takes
  // about 7 s, a read round about 8 s on the accreted store and about 4 s
  // on the compacted one.
  def cycles(seconds: Int): Int = math.max(1, seconds / 7)
  def rounds(seconds: Int): Int = math.max(1, seconds / 12)

  def run(a: Args)(implicit spark: SparkSession): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tr = new Tracer(spark.sparkContext, a.trace)
    val checks = new Checks
    spark.range(1000).selectExpr("sum(id)").collect()
    calibrate(spark) // compile the probe itself
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Set-up: build the workload's inputs and bring the system to its
    // steady state. setup_s runs from JVM start to the first timed op.
    val rig = new Rig(s"${a.work}/store", new Gen(a.seed), tr, checks)
    // ingest_serve's unit of work, one accrete → compact cycle: batches,
    // each followed by three serving point reads, then store and
    // serving-table compaction. Returns the number of batches.
    val commit, lag, reads, compact = mutable.ArrayBuffer.empty[Double]
    def ingestCycle(): Int = {
      (0 until CompactEvery).foreach { _ =>
        val (c, l) = rig.ingestBatch(Batch)
        commit += c; lag += l
        (0 until 3).foreach(_ => reads += timed(rig.serveReadRow()))
      }
      compact += timed(rig.compact(serving = true))
      CompactEvery
    }
    a.workload match {
      case "ingest_serve" =>
        rig.startStreams()
        tr.phase = "warm" // first batches and compactions pay codegen and planning
        ingestCycle()
      case "asof_reads" =>
        (0 until Generations).foreach(_ => rig.writeBatch(Batch))
        rig.buildSnapshots()
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    tr.phase = ""
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val calibBefore = calibrate(spark)

    val notes = mutable.ArrayBuffer.empty[String]
    def cpuDuring(body: => Unit): Double = { val c0 = cpuS(); body; cpuS() - c0 }
    var ops = 0L

    // cpu_per_op_s: process CPU seconds per op, every thread included;
    // wall-clock latencies are printed beside it as diagnostics.
    val cpuPerOp = a.workload match {
      case "ingest_serve" =>
        // One op is one batch: handoff → durable → serving table reflects
        // it. Whole accrete → compact cycles.
        commit.clear(); lag.clear(); reads.clear(); compact.clear()
        var wall = 0.0
        val cpu = cpuDuring { wall = repeat(cycles(a.seconds))(ops += ingestCycle()) }
        rig.stopStreams()
        notes += describe("commit_s", commit.toSeq)
        notes += describe("serve_lag_s", lag.toSeq)
        notes += describe("serving_read_s", reads.toSeq)
        notes += describe("compact_s", compact.toSeq)
        notes += f"ingest_rows_per_s: ${ops * Batch * rig.gen.rowsPerBlock / wall}%.1f"
        rig.checkServing()
        rig.checkStore()
        cpu / ops

      case "asof_reads" =>
        // One op is one read. Rounds (one read of each kind, seeded
        // arguments) on the accreted store, compaction (not counted), then
        // twice as many rounds on the compacted store, which reads about
        // twice as fast. The per-read CPU of the two store states is
        // weighted equally.
        val accreted, compacted = mutable.ArrayBuffer.empty[(String, Double)]
        var tA, tB = 0.0
        val n = rounds(a.seconds)
        val cpuA = cpuDuring { tA = repeat(n)(accreted ++= rig.readRound()) }
        notes += f"compact_s: ${timed(rig.compact(serving = false))}%.4f"
        tr.phase = "compacted"
        val cpuB = cpuDuring { tB = repeat(2 * n)(compacted ++= rig.readRound()) }
        tr.phase = ""
        ops = accreted.size + compacted.size
        notes += describe("read_s", accreted.map(_._2).toSeq)
        notes += describe("compacted_read_s", compacted.map(_._2).toSeq)
        notes += f"reads_per_s: ${accreted.size / tA}%.3f compacted_reads_per_s: ${compacted.size / tB}%.3f"
        notes += f"cpu_per_read_s: ${cpuA / accreted.size}%.4f compacted: ${cpuB / compacted.size}%.4f"
        rig.checkStore()
        (cpuA / accreted.size + cpuB / compacted.size) / 2
    }

    val heap = heapMb()
    val calibAfter = calibrate(spark)
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (setupS, "s"),
      "cpu_per_op_s" -> (cpuPerOp, "s"),
      "heap_mb" -> (heap, "MB"))

    // The query/kernel layers are per-layer numbers only, so they run in
    // traced runs, after everything above has been measured.
    val mix = if (!a.trace) None else Some {
      val m = new QueryMix(s"${a.work}/tables", a.seed, tr, checks)
      m.writeTables()
      m.prepare()
      m.pass()
      m.checkOracles()
      m
    }
    checks.wrong.take(20).foreach(w => println(s"[perfbench] WRONG $w"))
    checks.errors.foreach(e => println(s"[perfbench] FAILED $e"))
    notes.foreach(l => println(s"[perfbench] $l"))
    println(f"[perfbench] setup: session=$sessionS%.3f s inputs and warm-up=${setupS - sessionS}%.3f s")
    println(f"[perfbench] calibration probe: before=$calibBefore%.4f s after=$calibAfter%.4f s")

    val metrics =
      if (!a.trace) e2e
      else {
        println("[perfbench] end-to-end under trace: " +
          json(e2e.map { case (k, (v, _)) => k -> v }))
        val spans = tr.finish()
        Layers.write(s"${a.work}/spans.jsonl", spans)
        println(s"[perfbench] ${spans.size} spans, run ${tr.runId}")
        Layers.metrics(spans, mix.fold(Map.empty[String, Long])(_.kernelRows))
      }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      json(k) + ": " + json(Map("value" -> v, "unit" -> u))
    }.mkString("{", ", ", "}")
    val attempted = checks.attempted + ops
    println(s"""{"correct": ${checks.correct}, "attempted": $attempted, "failed": ${checks.failed}, "metrics": $body}""")
    if (checks.correct) 0 else 1
  }
}
