package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One metric of a run. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: `attempted` operations, of which `failed` failed
  * or returned a wrong answer. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric])

/** Settings shared by the workloads of one run. */
final case class Run(
    spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double, work: File) {
  def sc = spark.sparkContext
}

/** Counts operations and wrong answers. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  private var shown = 0

  /** One operation: `problems` empty means it was right. */
  def record(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (shown < 20) {
        shown += 1
        System.err.println(s"[perfbench] check failed: $what: ${problems.take(3).mkString("; ")}")
      }
    }
  }
}

/** What a timed phase measured. */
final case class Phase(
    latenciesMs: Seq[Double], itemsPerS: Double, recall: Double,
    diskBytesPerRow: Double, gcMs: Long)

/** The timed phase and the two kinds of report. An untraced run measures
  * the phase once and reports the end-to-end metrics. A traced run
  * measures it untraced and then traced (the difference of their medians
  * is the tracing overhead), then calls the lower layers one at a time on
  * the same inputs and reports the per-layer metrics. */
object Report {
  /** Every per-layer metric, with its unit. A traced run reports 0 for a
    * layer its workload does not reach. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "engine.query.plan_ms" -> "ms", "engine.query.exec_ms" -> "ms",
    "engine.query.jobs" -> "count", "engine.query.task_ms" -> "ms",
    "engine.query.input_bytes" -> "B", "engine.query.shuffle_bytes" -> "B",
    "engine.insert.ms" -> "ms", "engine.insert.jobs" -> "count",
    "engine.insert.files" -> "count",
    "engine.remove.ms" -> "ms", "engine.remove.input_bytes" -> "B",
    "engine.refresh.s" -> "s", "index.build.s" -> "s", "index.write.s" -> "s",
    "index.route.ms" -> "ms", "index.candidates.ms" -> "ms",
    "index.cand_per_result" -> "ratio",
    "functions.l2sq.evals_per_s" -> "1/s", "ops.rerank.ms" -> "ms",
    "ops.minhash.docs_per_s" -> "1/s",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.state_rows" -> "count",
    "stream.state_mem_bytes" -> "B", "stream.ring_drops" -> "count",
    "stream.shuffle_bytes_per_doc" -> "B",
    "spark.gc_ms" -> "ms", "trace.overhead_pct" -> "%")

  /** Percentile reported as op_tail_ms. */
  val TailPercentile = 90.0

  /** Runs `op` in a closed loop for about `seconds`: another operation
    * starts while at least half of an average one still fits. At least
    * one runs. */
  def loop(seconds: Double)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || Stats.seconds(t0) * (1 + 0.5 / i) < seconds) { op(i); i += 1 }
  }

  /** Repeats `call` (returning its time) until it stops getting faster:
    * at least `min` calls, then until a call is not 10% faster than the
    * fastest one before it; at most `max` calls. `min` is at least 2. */
  def warmUp(min: Int, max: Int)(call: => Double): Unit = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.length < max &&
        (times.length < min || times.last < 0.9 * times.init.min)) {
      times += call
      System.err.println(f"[perfbench] warm-up ${times.length}: ${times.last}%.2f")
    }
  }

  def apply(workload: String, r: Run, setupS: Double, checks: Checks)
      (phase: Int => Phase)(layers: => Map[String, Double]): Outcome =
    if (!r.tracer.traced) {
      val p = phase(0)
      System.err.println(s"[perfbench] $workload: ${p.latenciesMs.length} timed operations (ms): " +
        p.latenciesMs.map(x => f"$x%.0f").mkString(" "))
      Outcome(checks.attempted, checks.failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_ms", Stats.median(p.latenciesMs), "ms"),
        Metric("op_tail_ms", Stats.percentile(p.latenciesMs, TailPercentile), "ms"),
        Metric("items_per_s", p.itemsPerS, "1/s"),
        Metric("recall", p.recall, "ratio"),
        Metric("disk_bytes_per_row", p.diskBytesPerRow, "B"),
        Metric("heap_live_mb", Stats.liveHeapMb(), "MB")))
    } else {
      val plain = phase(0)
      r.tracer.on = true
      val traced = phase(1)
      val got = layers ++ Map(
        "spark.gc_ms" -> traced.gcMs.toDouble,
        "trace.overhead_pct" ->
          100.0 * (Stats.median(traced.latenciesMs) / Stats.median(plain.latenciesMs) - 1.0))
      Outcome(checks.attempted, checks.failed, LayerMetrics.map { case (n, u) =>
        Metric(n, got.getOrElse(n, 0.0), u)
      })
    }
}
