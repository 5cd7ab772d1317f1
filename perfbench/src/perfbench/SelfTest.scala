package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark checking itself on a toy store.
  *
  *  1. A perturbed model answer must make the read checks fail.
  *  2. An extra `repartition` around one read's result (an injected
  *     Exchange) must move that op's `jobs`/`shuffle_bytes` and leave every
  *     other op's `jobs`, `tasks`, `files_scanned` and `shuffle_bytes` as
  *     they were, over the same replayed read sequence.
  */
object SelfTest {
  val Target = "store.read_row_at"

  def run(a: Main.Args)(implicit spark: SparkSession): Int = {
    var failures = 0
    def report(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) failures += 1
    }

    val tr = new Tracer(spark.sparkContext, enabled = true)
    val gen = new Gen(a.seed, rowsPerBlock = 50)
    val checks = new Checks
    val rig = new Rig(s"${a.work}/toy", gen, tr, checks)
    (0 until 3).foreach(_ => rig.writeBatch(4))
    rig.buildSnapshots()
    rig.readRound() // warm: first-call planning and codegen
    report(checks.correct, s"reads match the model (${checks.attempted} checked)")

    gen.perturb = true
    val before = checks.wrong.size
    rig.readRound()
    gen.perturb = false
    val failedOps = checks.wrong.drop(before.toInt).map(_.takeWhile(_ != ':')).toSet
    report(Layers.ReadOps.forall(failedOps), s"a perturbed model answer fails the check of " +
      s"every read op (${failedOps.size}/${Layers.ReadOps.size})")
    checks.wrong.remove(before.toInt, checks.wrong.size - before.toInt)

    def pass(): Unit = { gen.resetPicks(); (0 until 2).foreach(_ => rig.readRound()) }
    tr.phase = "base"; pass()
    rig.inject = Some(Target -> (_.repartition(3)))
    tr.phase = "injected"; pass()
    report(checks.correct, s"reads with the injected Exchange still match the model")

    val spans = tr.finish()
    def sum(phase: String, op: String, c: String): Double =
      spans.collect { case (s, m) if s.phase == phase && s.name == op => m(c) }.sum
    val counters = Seq("jobs", "tasks", "files_scanned", "shuffle_bytes")
    Layers.ReadOps.foreach { op =>
      val base = counters.map(c => c -> sum("base", op, c)).toMap
      val inj = counters.map(c => c -> sum("injected", op, c)).toMap
      val line = counters.map(c => s"$c ${base(c)}→${inj(c)}").mkString(", ")
      if (op == Target)
        report(inj("shuffle_bytes") > base("shuffle_bytes") && inj("jobs") >= base("jobs"),
          s"injected Exchange shows on $op: $line")
      else report(base == inj, s"unchanged on $op: $line")
    }
    if (failures == 0) 0 else 1
  }
}
