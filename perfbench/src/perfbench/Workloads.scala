package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.Pages
import graft.pipeline.Pipeline
import graft.retention.Retention
import graft.table.ManifestTableLayer
import Inputs.Shape

/** The three workloads. Each runs a closed loop with one client: the next
  * op starts when the previous one returned.
  */
object Workloads {
  val SetupReps = 3
  val UnitsPerDay = 6 // 4 rollup tiers + chunks + index
  val ReadRounds = 4

  /** Seeded read targets: a few non-hot domains, one day and a 6-hour
    * window of it.
    */
  final case class Reads(domains: Seq[String], day: String, fromTs: Long, untilTs: Long)

  def reads(seed: Long, shape: Shape): Reads = {
    val domains = Inputs.draws(seed, 11, 64, shape.docs)
      .map(i => Inputs.docId(seed, shape, i)).filter(_ % 5 >= 2)
      .map(Inputs.domain(shape, _)).distinct.take(3)
    val d = Inputs.draws(seed, 12, 1, shape.days).head.toInt
    val from = Pages.T0Epoch + d * 86400L + Inputs.draws(seed, 13, 1, 18).head * 3600L
    Reads(domains, Inputs.days(shape)(d), from, from + 6 * 3600L)
  }

  /** The read probe: `ReadRounds` ops of each read kind. In a traced run the
    * first and last rounds are traced and the middle ones are not, so both
    * sides of `trace.overhead_pct` sit equally far from the last write.
    */
  def probe(b: Bench, table: ManifestTableLayer, r: Reads, trace: Boolean): Unit =
    for (k <- 0 until ReadRounds) {
      val traced = trace && (k == 0 || k == ReadRounds - 1)
      b.readTier(table, r.domains, traced)
      b.readGapFill(table, r.domains, traced)
      b.readChunks(table, r.day, r.fromTs, r.untilTs, traced)
    }

  /** Set up `SetupReps` times and record the median as `setup_s`: `body`
    * regenerates the inputs (the same seed gives the same inputs), and the
    * first repetition, in a cold JVM, then runs `warmUp` (serve_mixed's
    * table build, and untimed writes and reads) so that the timed ops run
    * on warm code. The first repetition alone is `setup.first_s`.
    */
  def setUp(b: Bench)(body: => Unit)(warmUp: => Unit): Unit = {
    val times = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      body
      if (i == 1) warmUp
      val s = (System.nanoTime() - t0) / 1e9
      Bench.log(f"set-up $i: $s%.2f s")
      s
    }
    b.e2e.add("setup_s", Stats.median(times))
    b.layers.add("setup.first_s", times.head)
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `Pipeline.runRollup` into a fresh table, each rep followed by the read
    * probe on the table it built.
    */
  def rollup(b: Bench, shape: Shape, seconds: Int): Unit = {
    import b._
    val days = Inputs.days(shape)
    val pagesPath = work.resolve("pages").toString
    val r = reads(seed, shape)
    var pages: DataFrame = null
    var points = 0L
    setUp(b) {
      val (_, synthS) = timeS {
        pages = Inputs.pages(spark, work, seed, shape)
        Pages.writePartitioned(pages, pagesPath, Inputs.Buckets)
      }
      layers.add("ingest.synth_s", synthS)
      points = spark.read.parquet(pagesPath).count() * Inputs.Metrics
    } {
      val (warm, _) = newTable("warm")
      Pipeline.runRollup(spark, pagesPath, warm, days)
      probe(b, warm, r, trace = false)
    }
    layers.add("ingest.pages", points / Inputs.Metrics)
    layers.add("ingest.pages_bytes", Inputs.dirBytes(work.resolve("pages")))
    Inputs.rmTree(work.resolve("warm"))

    measuring = true
    val deadline = System.nanoTime() + seconds * 1000000000L
    var rep = 0
    var last: ManifestTableLayer = null
    while (rep == 0 || System.nanoTime() < deadline) {
      Inputs.rmTree(work.resolve(s"t${rep - 1}"))
      val (table, root) = newTable(s"t$rep")
      var n = 0
      val ok = timed("write", trace, points) {
        n = tracer.span("pipeline.rollup")(Pipeline.runRollup(spark, pagesPath, table, days))
      }
      if (ok && n != UnitsPerDay * days.size)
        wrong += s"runRollup committed $n units, expected ${UnitsPerDay * days.size}"
      if (ok && trace) attributeWrite("pipeline.rollup", root, -1L, points)
      if (ok) probe(b, table, r, trace)
      last = table
      rep += 1
    }
    measuring = false
    if (trace) sparkWide()
    layers.add("jvm.peak_rss_mb", peakRssMb())
    tableLayers(last, points)
    Bench.log("gate")
    pages.persist()
    wrong ++= Gate.all(spark, last, pages, pagesPath, days)
  }

  /** A table built in set-up from 90% of the pages, then cycles of one
    * late-page write (raw append + `applyDelta`, seeded batch order) and
    * the read probe, closed by `forgetUrls`, `sweepRaw` and
    * `Retention.expire`.
    */
  def serve(b: Bench, shape: Shape, seconds: Int): Unit = {
    import b._
    val days = Inputs.days(shape)
    val pagesPath = work.resolve("pages").toString
    val latePath = work.resolve("late").toString
    val r = reads(seed, shape)
    val BatchesPerDay = 4
    val nBatches = days.size * BatchesPerDay
    // forget victims: two non-hot urls whose pages are never late, so no
    // late batch can bring an erased url back
    val victims = Inputs.draws(seed, 21, 64, shape.docs)
      .map(i => Inputs.docId(seed, shape, i)).filter(_ % 5 >= 2).distinct
      .map(Inputs.url(shape, _)).take(2)
    val isLate = pmod(xxhash64(lit(seed), col("url"), col("warc_ts")), lit(10)) === 0 &&
      !col("url").isin(victims: _*)
    val batchOf = (datediff(to_date(col("warc_ts")), lit(days.head)) * BatchesPerDay +
      pmod(xxhash64(lit(seed), lit(7), col("url"), col("warc_ts")),
        lit(BatchesPerDay))).cast("int")
    val tableRoot = work.resolve("table")
    var all: DataFrame = null
    var table: ManifestTableLayer = null
    var applied = Set.empty[Int]
    var forgotten = Seq.empty[String]

    def batch(i: Int): DataFrame =
      spark.read.parquet(latePath).filter(col("_batch") === i).drop("_batch")

    // a late batch lands in the raw store (so erasures and rebuilds see
    // it) and is merged into the tiers
    def lateWrite(t: ManifestTableLayer, raw: String, i: Int): Unit = {
      val stage = work.resolve(s"stage-$i")
      tracer.span("ingest.append") {
        Pages.writePartitioned(batch(i), stage.toString, Inputs.Buckets)
        moveParts(stage, Paths.get(raw))
      }
      tracer.span("pipeline.delta")(Pipeline.applyDelta(spark, batch(i), t))
    }

    setUp(b) {
      val (_, synthS) = timeS {
        all = Inputs.pages(spark, work, seed, shape)
        Pages.writePartitioned(all.filter(!isLate), pagesPath, Inputs.Buckets)
        all.filter(isLate).withColumn("_batch", batchOf)
          .write.mode("overwrite").partitionBy("_batch").parquet(latePath)
      }
      layers.add("ingest.synth_s", synthS)
    } {
      table = newTable("table")._1
      Pipeline.runRollup(spark, pagesPath, table, days)
      probe(b, table, r, trace = false)
      // warm the late-write path on clones of the table's snapshot log and
      // of the raw store: copy-on-write leaves the table and its data intact
      val warmRoot = work.resolve("warm-table")
      val warmRaw = work.resolve("warm-pages")
      Inputs.copyTree(tableRoot.resolve("snapshots"), warmRoot.resolve("snapshots"))
      Files.copy(tableRoot.resolve("CURRENT"), warmRoot.resolve("CURRENT"))
      Inputs.copyTree(Paths.get(pagesPath), warmRaw)
      lateWrite(new ManifestTableLayer(warmRoot.toString), warmRaw.toString, 0)
      Inputs.rmTree(warmRoot)
      Inputs.rmTree(warmRaw)
    }
    val batchPoints = new Array[Long](nBatches)
    spark.read.parquet(latePath).groupBy("_batch").count().collect()
      .foreach(row => batchPoints(row.getInt(0)) = row.getLong(1) * Inputs.Metrics)
    layers.add("ingest.pages", all.count())
    layers.add("ingest.pages_bytes",
      Inputs.dirBytes(work.resolve("pages")) + Inputs.dirBytes(work.resolve("late")))

    val writes = new scala.util.Random(Inputs.mix(seed ^ 31))
      .shuffle((0 until nBatches).toList).iterator
    measuring = true
    val deadline = System.nanoTime() + seconds * 1000000000L
    var cycle = 0
    while (cycle == 0 || System.nanoTime() < deadline) {
      if (writes.hasNext) {
        val i = writes.next()
        val snap = table.currentSnapshotId()
        if (timed("write", trace, batchPoints(i))(lateWrite(table, pagesPath, i))) {
          applied += i
          if (trace) attributeWrite("pipeline.delta", tableRoot, snap, batchPoints(i))
        }
      }
      probe(b, table, r, trace)
      cycle += 1
    }
    // closing erasure and retention pass
    val snap = table.currentSnapshotId()
    if (timed("forget", trace)(tracer.span("pipeline.forget")(
        Pipeline.forgetUrls(spark, pagesPath, table, victims, buckets = Inputs.Buckets)))) {
      forgotten = victims
      if (trace) attributeWrite("pipeline.forget", tableRoot, snap, 0L)
    }
    timed("sweep", trace)(tracer.span("retention.sweep")(Pipeline.sweepRaw(table, days(1))))
    var deleted = 0
    timed("expire", trace)(tracer.span("retention.expire") {
      deleted = Retention.expire(table, keepLast = 1)
    })
    measuring = false
    layers.add("retention.dirs_deleted", deleted)
    if (trace) sparkWide()
    layers.add("jvm.peak_rss_mb", peakRssMb())

    Bench.log("gate")
    val expected = all.withColumn("_batch", batchOf)
      .filter(!isLate || col("_batch").isin(applied.toSeq: _*))
      .filter(!col("url").isin(forgotten: _*)).drop("_batch").persist()
    val finalPoints = expected.count() * Inputs.Metrics
    tableLayers(table, finalPoints)
    val cols = Seq("url", "warc_ts", "html", "text", "lang").map(col)
    if (!Gate.sameRows(spark.read.parquet(pagesPath).select(cols: _*), expected.select(cols: _*)))
      wrong += "raw pages differ from base + applied late pages - forgotten urls"
    wrong ++= Gate.all(spark, table, expected, pagesPath, days)
  }

  /** Move the part files of a `Pages.writePartitioned` output into the
    * same partition dirs of the raw store.
    */
  def moveParts(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .foreach { p =>
        val dest = to.resolve(from.relativize(p))
        Files.createDirectories(dest.getParent)
        Files.move(p, dest)
      }
    finally s.close()
    Inputs.rmTree(from)
  }
}
