package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.chunk.ChunkWriter
import graft.gapfill.GapFill
import graft.pipeline.Pipeline
import graft.table.ManifestTableLayer

/** One timed operation of the closed loop. */
final case class OpRec(kind: String, ms: Double, ok: Boolean, traced: Boolean,
    points: Long)

/** Shared machinery of the workloads: the op timer with failure
  * accounting, the read ops, and the per-layer attribution of traced ops.
  */
final class Bench(val spark: SparkSession, val work: Path, val seed: Long,
    val trace: Boolean) {
  val tracer = new Tracer(spark.sparkContext)
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val errors = mutable.ArrayBuffer.empty[String]
  val wrong = mutable.ArrayBuffer.empty[String]
  val e2e = new Samples
  val layers = new Samples
  val cores: Int = spark.sparkContext.defaultParallelism

  /** True inside the measured window; outside it ops are warm-up work. */
  var measuring = false

  /** Time `body` as one op; an exception is a failed op, recorded with its
    * message. `traced` turns on spans and job collection for the op.
    * Outside the measured window the body just runs (warm-up), and an
    * exception fails the run.
    */
  def timed(kind: String, traced: Boolean, points: Long = 0L)(body: => Unit): Boolean = {
    if (!measuring) { tracer.on = false; body; return true }
    tracer.on = traced
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case NonFatal(e) => errors += s"$kind: ${Gate.rootMessage(e)}"; false }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.on = false
    ops += OpRec(kind, ms, ok, traced, points)
    Bench.log(f"op $kind%-12s ${ms}%9.1f ms ok=$ok traced=$traced")
    if (traced) tracer.drain()
    ok
  }

  def newTable(name: String): (ManifestTableLayer, Path) = {
    val root = work.resolve(name)
    Inputs.rmTree(root)
    (new ManifestTableLayer(root.toString), root)
  }

  def lastSpan(name: String): Span = tracer.spans.filter(_.name == name).last

  // ---- write ops: per-layer attribution from the table's snapshot log ----

  /** Attribute a traced pipeline call (`runRollup`, `applyDelta`,
    * `forgetUrls`) to its units; record the layer samples.
    */
  def attributeWrite(spanName: String, tableRoot: Path, snapBefore: Long,
      points: Long): Unit = {
    val span = lastSpan(spanName)
    val jobs = tracer.jobsOf(span.id)
    val commits = Trace.commitsAfter(tableRoot, snapBefore)
    val (units, orphans) = Trace.units(span, commits, jobs)
    spanName match {
      case "pipeline.rollup" =>
        layers.add("pipeline.jobs", jobs.size)
        layers.add("pipeline.jobs_per_unit", jobs.size.toDouble / math.max(1, units.size))
        layers.add("pipeline.driver_gap_s", Trace.gapMs(span.startMs, span.endMs, jobs) / 1e3)
        layers.add("pipeline.unattributed_jobs", orphans.size)
        layers.add("checkpoint.units", units.size)
        units.foreach(u => {
          layers.add("checkpoint.unit_p50_s", u.seconds)
          layers.add("checkpoint.unit_p90_s", u.seconds)
        })
      case "pipeline.delta" => layers.add("pipeline.delta.jobs", jobs.size)
      case "pipeline.forget" => layers.add("pipeline.forget.jobs", jobs.size)
    }
    layers.add("table.commits", commits.size)
    layers.add("table.snapshot_bytes", commits.map(_.bytes).sum)
    layers.add("table.cow_bytes_written", commits.map(_.addedBytes).sum)
    def busy(layer: String) = units.filter(_.layer == layer).map(_.seconds).sum
    val t15 = busy("rollup.tier15")
    layers.add("rollup.tier15.busy_s", t15)
    if (t15 > 0 && points > 0) layers.add("rollup.tier15.points_per_s", points / t15)
    layers.add("rollup.chain.busy_s", busy("rollup.chain"))
    val enc = busy("chunk.encode")
    layers.add("chunk.encode.busy_s", enc)
    val encPoints = units.filter(_.layer == "rollup.tier15").map(_.commit.addedRows).sum
    if (enc > 0) layers.add("chunk.encode.points_per_s", encPoints / enc)
    layers.add("chunk.index.busy_s", busy("chunk.index"))
    val rollupUnits = units.filter(_.layer.startsWith("rollup."))
    layers.add("rollup.shuffle_bytes",
      tracer.stagesOf(rollupUnits.flatMap(_.jobs)).map(_.shuffleWrite).sum)
    tracer.stagesOf(units.filter(_.layer == "rollup.tier15").flatMap(_.jobs))
      .filter(_.durations.size >= 2).foreach { s =>
        val med = Stats.median(s.durations.map(_.toDouble).toSeq)
        if (med > 0) layers.add("rollup.tier15.task_skew", s.durations.max / med)
      }
  }

  // ---- read ops ----

  /** The 1h tier filtered to a few domains. */
  def readTier(table: ManifestTableLayer, domains: Seq[String], traced: Boolean): Unit =
    timed("read.tier", traced) {
      val rows = tracer.span("pipeline.read_tier") {
        Pipeline.readTier(spark, table, "1h")
          .filter(col("domain").isin(domains: _*)).collect()
      }
      require(rows.nonEmpty, "1h tier read returned no rows")
    }

  /** Linear interpolation over the 15min tier of a few domains. */
  def readGapFill(table: ManifestTableLayer, domains: Seq[String], traced: Boolean): Unit = {
    var n = 0L
    val ok = timed("read.gapfill", traced) {
      n = tracer.span("gapfill.interpolate") {
        val obs = Pipeline.readTier(spark, table, "15min")
          .filter(col("domain").isin(domains: _*))
        GapFill.interpolateFused(obs, Seq("domain", "metric"), "bucket_ts", "mean_v",
          maxGapPeriods = 4, markerExpr = lit("interpolated"), periodSec = 900L).count()
      }
      require(n > 0, "gap-fill read returned no rows")
    }
    if (traced && ok) {
      val s = lastSpan("gapfill.interpolate")
      val sec = (s.endMs - s.startMs) / 1e3
      layers.add("gapfill.busy_s", sec)
      if (sec > 0) layers.add("gapfill.rows_per_s", n / sec)
    }
  }

  /** One day of the 15min chunk store, decoded through `gorilla_explode`
    * with a `ts` window the optimizer pushes into the chunk scan.
    */
  def readChunks(table: ManifestTableLayer, day: String, fromTs: Long, untilTs: Long,
      traced: Boolean): Unit = {
    var listNs = 0L
    var n = 0L
    val ok = timed("read.chunks", traced) {
      val t0 = System.nanoTime()
      val path = tracer.span("table.list") {
        table.currentPartitions().find(_.key == Pipeline.chunkKey("15min", day))
          .getOrElse(throw new IllegalStateException(s"no live chunks for $day")).path
      }
      listNs = System.nanoTime() - t0
      n = tracer.span("chunk.decode") {
        ChunkWriter.decodeSql(spark.read.parquet(path))
          .filter(col("ts") >= fromTs && col("ts") < untilTs).count()
      }
      require(n > 0, s"chunk window read of $day returned no rows")
    }
    if (traced && ok) {
      val s = lastSpan("chunk.decode")
      layers.add("table.list_ms", listNs / 1e6)
      layers.add("chunk.decode.busy_s", (s.endMs - s.startMs) / 1e3)
      val scanned = tracer.stagesOf(tracer.jobsOf(s.id)).map(_.inputRecords).sum
      layers.add("chunk.decode.scan_rows_per_row_out", scanned.toDouble / n)
    }
  }

  // ---- run-wide results ----

  /** Spark-wide samples over the jobs of every traced op, per traced op
    * (the listener records jobs only while an op is traced).
    */
  def sparkWide(): Unit = {
    val tracedOps = ops.count(_.traced)
    if (tracedOps == 0) return
    val stages = tracer.stagesOf(tracer.allJobs)
    val wallS = ops.filter(_.traced).map(_.ms).sum / 1e3
    val cpu = stages.map(_.cpuNs).sum / 1e9
    layers.add("spark.executor_cpu_s", cpu / tracedOps)
    layers.add("spark.executor_run_s", stages.map(_.runMs).sum / 1e3 / tracedOps)
    layers.add("spark.cpu_util", cpu / (wallS * cores))
    layers.add("spark.gc_s", stages.map(_.gcMs).sum / 1e3 / tracedOps)
    layers.add("spark.input_bytes", stages.map(_.inputBytes).sum.toDouble / tracedOps)
    layers.add("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble / tracedOps)
    layers.add("spark.spill_bytes", stages.map(_.spill).sum.toDouble / tracedOps)
    layers.add("spark.stages", stages.count(_.tasks > 0).toDouble / tracedOps)
    layers.add("spark.tasks", stages.map(_.tasks).sum.toDouble / tracedOps)
  }

  /** Tracing overhead: per op kind, traced median over untraced median,
    * combined as a geometric mean over the kinds run both ways.
    */
  def traceOverhead(): Unit = {
    val ratios = ops.filter(_.ok).groupBy(_.kind).values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.ms).toSeq) / Stats.median(u.map(_.ms).toSeq))
    }.toSeq
    if (ratios.nonEmpty)
      layers.add("trace.overhead_pct",
        (math.exp(ratios.map(math.log).sum / ratios.size) - 1) * 100)
  }

  def tableLayers(table: ManifestTableLayer, points: Long): Unit = {
    val live = table.currentPartitions()
    layers.add("table.live_bytes", live.map(_.bytes).sum)
    layers.add("table.live_partitions", live.size)
    val chunkBytes = live.filter(_.key.startsWith("chunks-15min/")).map(_.bytes).sum
    val rows15 = live.filter(_.key.startsWith("tier=15min/")).map(_.rows).sum
    if (rows15 > 0) layers.add("chunk.bytes_per_point", chunkBytes.toDouble / rows15)
    e2e.add("stored_bytes_per_point", live.map(_.bytes).sum.toDouble / points)
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

object Bench {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")
}
