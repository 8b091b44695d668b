package perfbench

import scala.collection.mutable

/** Samples of named metrics, reduced at the end of a run. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Names, units and reductions of every reported metric. */
object MetricDefs {
  sealed trait Reduce
  case object Median extends Reduce
  case object P90 extends Reduce
  case object Mean extends Reduce

  final case class Def(name: String, unit: String, reduce: Reduce)

  /** End-to-end metrics, printed by the untraced run. */
  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", Median),
    Def("write_p50_ms", "ms", Median),
    Def("points_per_s", "1/s", Median),
    Def("read_p50_ms", "ms", Median),
    Def("stored_bytes_per_point", "B", Mean))

  /** Per-layer metrics, printed by the traced run. Counts and busy times
    * are per traced write op (a `runRollup`, `applyDelta` or `forgetUrls`
    * call) unless the name says otherwise.
    */
  val PerLayer: Seq[Def] = Seq(
    Def("ingest.pages", "count", Mean),
    Def("ingest.pages_bytes", "B", Mean),
    Def("ingest.synth_s", "s", Median),
    Def("setup.first_s", "s", Mean),
    Def("pipeline.jobs", "count", Mean),
    Def("pipeline.jobs_per_unit", "count", Mean),
    Def("pipeline.driver_gap_s", "s", Mean),
    Def("pipeline.unattributed_jobs", "count", Mean),
    Def("pipeline.delta.jobs", "count", Mean),
    Def("pipeline.delta.p50_ms", "ms", Median),
    Def("pipeline.forget.jobs", "count", Mean),
    Def("pipeline.forget.p50_ms", "ms", Median),
    Def("checkpoint.units", "count", Mean),
    Def("checkpoint.unit_p50_s", "s", Median),
    Def("checkpoint.unit_p90_s", "s", P90),
    Def("table.commits", "count", Mean),
    Def("table.snapshot_bytes", "B", Mean),
    Def("table.cow_bytes_written", "B", Mean),
    Def("table.list_ms", "ms", Median),
    Def("table.live_bytes", "B", Mean),
    Def("table.live_partitions", "count", Mean),
    Def("rollup.tier15.busy_s", "s", Mean),
    Def("rollup.tier15.points_per_s", "1/s", Median),
    Def("rollup.tier15.task_skew", "ratio", Median),
    Def("rollup.chain.busy_s", "s", Mean),
    Def("rollup.shuffle_bytes", "B", Mean),
    Def("chunk.encode.busy_s", "s", Mean),
    Def("chunk.encode.points_per_s", "1/s", Median),
    Def("chunk.index.busy_s", "s", Mean),
    Def("chunk.bytes_per_point", "B", Mean),
    Def("chunk.decode.busy_s", "s", Median),
    Def("chunk.decode.scan_rows_per_row_out", "ratio", Median),
    Def("gapfill.busy_s", "s", Median),
    Def("gapfill.rows_per_s", "1/s", Median),
    Def("retention.sweep_ms", "ms", Mean),
    Def("retention.expire_ms", "ms", Mean),
    Def("retention.dirs_deleted", "count", Mean),
    Def("serve.read_p90_ms", "ms", P90),
    Def("spark.executor_cpu_s", "s", Mean),
    Def("spark.executor_run_s", "s", Mean),
    Def("spark.cpu_util", "ratio", Mean),
    Def("spark.gc_s", "s", Mean),
    Def("spark.input_bytes", "B", Mean),
    Def("spark.shuffle_write_bytes", "B", Mean),
    Def("spark.spill_bytes", "B", Mean),
    Def("spark.stages", "count", Mean),
    Def("spark.tasks", "count", Mean),
    Def("jvm.peak_rss_mb", "MB", Mean),
    Def("trace.overhead_pct", "%", Mean))

  def reduce(d: Def, xs: Seq[Double]): Double = d.reduce match {
    case Median => Stats.median(xs)
    case P90 => Stats.quantile(xs, 0.9)
    case Mean => Stats.mean(xs)
  }
}
