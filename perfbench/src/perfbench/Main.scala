package perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import Inputs.Shape

/** Benchmark JVM: one workload, one seed, one measured window.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json>
  *
  * Writes {"correct", "attempted", "failed", "metrics"} to `--out` and
  * exits 1 when an output was wrong.
  */
object Main {

  /** Input shapes. Every seed yields the same page count per shape. */
  val Shapes: Map[String, Shape] = Map(
    "rollup_many_days" -> Shape(docs = 300, days = 2, domainMod = 97),
    "rollup_bulk" -> Shape(docs = 8000, days = 1, domainMod = 9973),
    "serve_mixed" -> Shape(docs = 800, days = 2, domainMod = 97))

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** The session `graft.Main` builds, with every scratch directory under
    * `work`, at local[<half the cores>]: the other half keeps the JIT, GC
    * and driver threads off the task threads' cores.
    */
  def session(work: Path): SparkSession = {
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() / 2).toString
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val shape = Shapes.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val work = Files.createDirectories(Paths.get(arg(args, "work")))
    Bench.log("start")
    val spark = session(work)
    Bench.log("session")
    val b = new Bench(spark, work, arg(args, "seed").toLong, trace)
    try {
      if (workload == "serve_mixed") Workloads.serve(b, shape, seconds)
      else Workloads.rollup(b, shape, seconds)
    } finally spark.stop()
    Bench.log("stopped")
    b.errors.foreach(e => System.err.println(s"[perfbench] failed op: $e"))
    b.wrong.foreach(w => System.err.println(s"[perfbench] WRONG: $w"))
    val (metrics, missing) = if (trace) perLayer(b) else endToEnd(b)
    missing.foreach(m => System.err.println(s"[perfbench] no samples for $m"))
    val correct = b.wrong.isEmpty && missing.isEmpty
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", b.ops.size)
    root.put("failed", b.ops.count(!_.ok))
    val ms = root.putObject("metrics")
    metrics.foreach { case (name, value, unit) =>
      val m = ms.putObject(name); m.put("value", value); m.put("unit", unit)
    }
    Files.writeString(Paths.get(arg(args, "out")), mapper.writeValueAsString(root))
    if (!correct) sys.exit(1)
  }

  type Out = (Seq[(String, Double, String)], Seq[String])

  def endToEnd(b: Bench): Out = {
    val ok = b.ops.filter(o => o.ok && !o.traced)
    val writes = ok.filter(_.kind == "write")
    val s = new Samples
    writes.foreach(o => s.add("write_p50_ms", o.ms))
    writes.foreach(o => s.add("points_per_s", o.points / (o.ms / 1e3)))
    // each read kind has its own latency level, so the median of the mixed
    // sample jumps between kinds: report the mean of the per-kind medians
    val reads = ok.filter(_.kind.startsWith("read.")).groupBy(_.kind).values
    if (reads.nonEmpty)
      s.add("read_p50_ms", Stats.mean(reads.map(rs => Stats.median(rs.map(_.ms).toSeq)).toSeq))
    Seq("setup_s", "stored_bytes_per_point")
      .foreach(n => b.e2e.get(n).foreach(s.add(n, _)))
    report(MetricDefs.EndToEnd, s, allowEmpty = false)
  }

  def perLayer(b: Bench): Out = {
    val s = b.layers
    b.traceOverhead()
    b.tracer.spans.filter(_.name == "pipeline.delta")
      .foreach(x => s.add("pipeline.delta.p50_ms", (x.endMs - x.startMs).toDouble))
    val ok = b.ops.filter(_.ok)
    ok.filter(_.kind == "forget").foreach(o => s.add("pipeline.forget.p50_ms", o.ms))
    ok.filter(o => o.kind.startsWith("read.") && !o.traced).foreach(o => s.add("serve.read_p90_ms", o.ms))
    ok.filter(_.kind == "sweep").foreach(o => s.add("retention.sweep_ms", o.ms))
    ok.filter(_.kind == "expire").foreach(o => s.add("retention.expire_ms", o.ms))
    report(MetricDefs.PerLayer, s, allowEmpty = true)
  }

  /** Reduce every defined metric; a layer a workload does not exercise
    * reads 0, an end-to-end metric without samples is reported missing.
    */
  def report(defs: Seq[MetricDefs.Def], s: Samples, allowEmpty: Boolean): Out = {
    val missing = if (allowEmpty) Nil else defs.filter(d => s.get(d.name).isEmpty).map(_.name)
    (defs.map(d => (d.name, MetricDefs.reduce(d, s.get(d.name)), d.unit)), missing)
  }
}
