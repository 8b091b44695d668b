package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.functions._
import graft.chunk.ChunkWriter
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.table.ManifestTableLayer
import Inputs.Shape

/** Self-tests of the benchmark itself:
  *  - two seeds generate different but equally sized inputs;
  *  - the snapshot-log attribution assigns every job of a traced
  *    `runRollup` to exactly one unit, inside that unit's interval;
  *  - the gate accepts a correct table and rejects a perturbed tier and a
  *    flipped chunk byte.
  *
  *   perfbench.SelfTest --work <dir>     (exits 1 on any failure)
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(Paths.get(Main.arg(args, "work")))
    val spark = Main.session(work)
    val failures = mutable.ArrayBuffer.empty[String]
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch {
        case NonFatal(e) => Bench.log(s"$name: ${Gate.rootMessage(e)}"); false
      }
      Bench.log(s"${if (ok) "PASS" else "FAIL"} $name")
      if (!ok) failures += name
    }
    try {
      val shape = Shape(docs = 120, days = 2, domainMod = 97)
      val days = Inputs.days(shape)

      val a = Inputs.pages(spark, work.resolve("seed1"), 1, shape)
      val b = Inputs.pages(spark, work.resolve("seed2"), 2, shape)
      def sizes(p: org.apache.spark.sql.DataFrame) =
        (p.count(), Gate.series(p), p.select(to_date(col("warc_ts"))).distinct().count())
      check("two seeds: equal page, series and day counts")(sizes(a) == sizes(b))
      check("two seeds: different urls and texts") {
        !a.select("url").exceptAll(b.select("url")).isEmpty &&
          !a.select("text").exceptAll(b.select("text")).isEmpty
      }

      val pagesPath = work.resolve("pages").toString
      Pages.writePartitioned(a, pagesPath, Inputs.Buckets)
      val bench = new Bench(spark, work, 1, trace = true)
      val (table, root) = bench.newTable("table")
      bench.measuring = true
      bench.timed("write", traced = true) {
        bench.tracer.span("pipeline.rollup")(Pipeline.runRollup(spark, pagesPath, table, days))
      }
      bench.measuring = false
      check("attribution: every runRollup job in exactly one unit") {
        val span = bench.lastSpan("pipeline.rollup")
        val jobs = bench.tracer.jobsOf(span.id)
        val (units, orphans) = Trace.units(span, Trace.commitsAfter(root, -1L), jobs)
        val assigned = units.flatMap(_.jobs.map(_.id))
        jobs.nonEmpty && orphans.isEmpty && units.size == Workloads.UnitsPerDay * days.size &&
          assigned.sorted == jobs.map(_.id).sorted &&
          units.forall(u => u.jobs.nonEmpty &&
            u.jobs.forall(j => j.startMs >= u.startMs && j.endMs <= u.endMs))
      }
      check("gate accepts the built table")(Gate.all(spark, table, a, pagesPath, days).isEmpty)

      // swap a live partition for a modified copy, run the gate, swap back
      def withSwapped(key: String)(modify: String => Unit)(gate: => Seq[String]): Seq[String] = {
        val orig = table.currentPartitions().find(_.key == key).get
        modify(orig.path)
        try gate finally table.commit(Seq(orig), Seq(key))
      }
      def commitAs(key: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val meta = ManifestTableLayer.writePartition(table, df, s"selftest/$key", "selftest")
        table.commit(Seq(meta.copy(key = key)), Seq(key))
      }

      val tierKey = Pipeline.tierKey("1h", days.head)
      check("gate rejects a perturbed tier") {
        withSwapped(tierKey) { path =>
          val df = spark.read.parquet(path)
          val first = df.orderBy("domain", "metric", "bucket_ts").head()
          commitAs(tierKey, df.withColumn("sum_v",
            when(col("domain") === first.getAs[String]("domain") &&
              col("metric") === first.getAs[String]("metric") &&
              col("bucket_ts") === first.getAs[Long]("bucket_ts"), col("sum_v") + 1)
              .otherwise(col("sum_v"))))
        }(Gate.tiers(spark, table, a, days)).nonEmpty
      }

      val chunkKey = Pipeline.chunkKey("15min", days.head)
      check("gate rejects a flipped chunk byte") {
        import spark.implicits._
        withSwapped(chunkKey) { path =>
          val chunks = spark.read.parquet(path).as[ChunkWriter.FlatChunk].collect()
          val victim = chunks.minBy(c => (c.series_flat, c.t0))
          val flipped = chunks.map { c =>
            if (c ne victim) c
            else c.copy(blob = c.blob.updated(c.blob.length / 2,
              (c.blob(c.blob.length / 2) ^ 0x10).toByte))
          }
          commitAs(chunkKey, spark.createDataset(flipped.toSeq).toDF())
        }(Gate.chunks(spark, table)).nonEmpty
      }
      check("gate accepts the restored table")(Gate.all(spark, table, a, pagesPath, days).isEmpty)
    } finally spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[perfbench] self-test failures: ${failures.mkString("; ")}")
      sys.exit(1)
    }
    Bench.log("self-test passed")
  }
}
