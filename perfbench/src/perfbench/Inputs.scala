package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Pages

/** Seeded input generation. The engine receives only the generated pages.
  *
  * `Pages.synthesize` derives the visit pattern of a document from
  * `doc_id` modulo 4, 5, 13, 53 and `domainMod`. Doc ids are therefore
  * `i + offset * period`, with `period` the product of those moduli and a
  * seeded `offset`: every seed yields the same page, point, series and unit
  * counts, but different urls, texts and values.
  */
object Inputs {

  /** Input shape of one workload. */
  final case class Shape(docs: Int, days: Int, domainMod: Int)

  val Buckets = 16
  val Metrics = 2 // text_chars and bytes, per page (Pipeline.tier15FromPages)

  private val Vocab = Seq("grid", "load", "solar", "wind", "price", "hourly",
    "market", "zone", "forecast", "actual", "capacity", "net", "import",
    "export", "balance", "reserve", "offshore", "onshore", "hydro", "storage",
    "demand", "peak", "base", "transmission", "generation", "renewable")

  def period(domainMod: Int): Long = 4L * 5 * 13 * 53 * domainMod

  /** splitmix64 finaliser: well-spread seeded draws on the driver. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The seeded shift of every doc id, a multiple of `period`. */
  def idOffset(seed: Long, shape: Shape): Long =
    (1 + java.lang.Math.floorMod(mix(seed), 997L)) * period(shape.domainMod)

  /** Doc id, url and domain of document `i`, as `Pages.synthesize` derives them. */
  def docId(seed: Long, shape: Shape, i: Long): Long = i + idOffset(seed, shape)

  def domain(shape: Shape, docId: Long): String =
    s"d${if (docId % 5 < 2) 0 else docId % shape.domainMod}.example"

  def url(shape: Shape, docId: Long): String =
    s"https://${domain(shape, docId)}/p/$docId"

  /** `k` seeded draws in [0, n). */
  def draws(seed: Long, salt: Long, k: Int, n: Long): Seq[Long] =
    (0 until k).map(j => java.lang.Math.floorMod(mix(mix(seed ^ salt) + j), n))

  /** The `documents(doc_id, text, lang, n_chars)` table `Pages` reads. */
  def documents(spark: SparkSession, seed: Long, shape: Shape): DataFrame = {
    val h = (salt: Int) => xxhash64(lit(seed), lit(salt), col("id"))
    val words = expr(s"transform(sequence(1, 4 + cast(pmod(xxhash64(${seed}L, 1, id), 20) as int)), " +
      s"i -> element_at(array(${Vocab.map(w => s"'$w'").mkString(",")}), " +
      s"cast(pmod(xxhash64(${seed}L, 2, id, i), ${Vocab.size}) as int) + 1))")
    spark.range(shape.docs)
      .select(
        (col("id") + lit(idOffset(seed, shape))).as("doc_id"),
        concat_ws(" ", words).as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr")),
          (pmod(h(3), lit(3)) + 1).cast("int")).as("lang"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Pages of the shape as the engine's canonical table. */
  def pages(spark: SparkSession, work: Path, seed: Long, shape: Shape): DataFrame = {
    val docsDir = work.resolve("docs")
    documents(spark, seed, shape).repartition(1)
      .write.mode("overwrite").parquet(docsDir.resolve("documents.parquet").toString)
    Pages.synthesize(spark, docsDir.toString, days = shape.days,
        domainMod = shape.domainMod)
      .select("url", "warc_ts", "html", "text", "lang")
  }

  def days(shape: Shape): Seq[String] =
    (0 until shape.days).map(d => java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString)

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum() finally s.close()
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    } finally s.close()
  }
}
