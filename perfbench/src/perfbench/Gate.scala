package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.chunk.ChunkWriter
import graft.pipeline.Pipeline
import graft.rollup.TimeSeriesOps
import graft.table.ManifestTableLayer

/** Correctness gate, run outside every timed region. Each check returns
  * the list of its failures; an empty list means the outputs are correct.
  */
object Gate {
  private val TierCols = Seq("domain", "metric", "bucket_ts", "n", "sum_v", "mean_v")
  private val SeriesCols = Seq("domain", "metric")

  /** Every tier built by the direct chain over `pages`:
    * `tier15FromPages` -> `chainTier` -> ... (windows never span days).
    */
  def directTiers(pages: DataFrame): Seq[(String, DataFrame)] = {
    val t15 = Pipeline.tier15FromPages(pages).select(TierCols.map(col): _*)
    Pipeline.Tiers.tail.scanLeft("15min" -> t15) { case ((_, child), (tier, period)) =>
      tier -> TimeSeriesOps.chainTier(child, SeriesCols, period).select(TierCols.map(col): _*)
    }
  }

  /** Multiset equality via an order-independent fingerprint: the row
    * count and the sum of a 64-bit hash of every row. The hash reads the
    * doubles' bits, so this is a bitwise comparison up to hash collisions.
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = fingerprint(a) == fingerprint(b)

  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(df(_)): _*).cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def dayOf(c: String) = to_date(timestamp_seconds(col(c))).cast("string")

  /** [[fingerprint]] per value of column `key`, in one job. */
  def fingerprints(df: DataFrame, key: String): Map[String, (Long, BigDecimal)] = {
    val cols = df.columns.filter(_ != key).map(df(_))
    df.groupBy(col(key)).agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(20,0)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
  }

  /** Live tier partitions equal the direct chain over `pages`, restricted
    * to the days each tier still holds; the 1h and 1d tiers must hold
    * every day of `days`.
    */
  def tiers(spark: SparkSession, table: ManifestTableLayer, pages: DataFrame,
      days: Seq[String]): Seq[String] = {
    val byTier = table.currentPartitions().filter(_.key.startsWith("tier="))
      .groupBy(_.key.stripPrefix("tier=").takeWhile(_ != '/'))
    val liveDays = byTier.map { case (t, ps) => t -> ps.map(_.key.split("/day=")(1)).toSet }
    val missing = Seq("1h", "1d").flatMap(t =>
      days.filterNot(liveDays.getOrElse(t, Set.empty[String]).contains).map(d => s"$t/$d"))
    if (missing.nonEmpty) return Seq(s"tiers miss ${missing.mkString(",")}")
    val got = byTier.map { case (t, ps) =>
      spark.read.parquet(ps.map(_.path): _*).select(TierCols.map(col): _*)
        .withColumn("_tier", lit(t))
    }.reduce(_ unionByName _)
    val want = directTiers(pages).filter(t => liveDays.contains(t._1)).map { case (t, df) =>
      df.filter(dayOf("bucket_ts").isin(liveDays(t).toSeq: _*)).withColumn("_tier", lit(t))
    }.reduce(_ unionByName _)
    val (g, w) = (fingerprints(got, "_tier"), fingerprints(want, "_tier"))
    liveDays.keys.toSeq.sorted.filter(t => g.get(t) != w.get(t))
      .map(t => s"tier $t differs from the direct chain")
  }

  /** `ChunkWriter.decode` (CRC-checked) of the live 15min chunks returns
    * exactly the live 15min rows.
    */
  def chunks(spark: SparkSession, table: ManifestTableLayer): Seq[String] = {
    import spark.implicits._
    val live = table.currentPartitions()
    val chunkParts = live.filter(_.key.startsWith("chunks-15min/"))
    val tierParts = live.filter(_.key.startsWith("tier=15min/"))
    val chunkDays = chunkParts.map(_.key.stripPrefix("chunks-15min/day=")).toSet
    val tierDays = tierParts.map(_.key.stripPrefix("tier=15min/day=")).toSet
    if (chunkDays != tierDays)
      return Seq(s"chunk days ${chunkDays.toSeq.sorted} != 15min days ${tierDays.toSeq.sorted}")
    if (chunkParts.isEmpty) return Nil
    try {
      val decoded = ChunkWriter.decode(
        spark.read.parquet(chunkParts.map(_.path): _*).as[ChunkWriter.FlatChunk])
      val rows = spark.read.parquet(tierParts.map(_.path): _*).select(
        concat_ws("_", col("domain"), col("metric")).as("series_flat"),
        col("bucket_ts").as("ts"), col("mean_v").as("value"))
      if (sameRows(decoded, rows)) Nil else Seq("decoded chunks differ from the 15min rows")
    } catch {
      case e: Exception => Seq(s"chunk decode failed: ${rootMessage(e)}")
    }
  }

  /** Distinct (domain, metric) series of the pages. */
  def series(pages: DataFrame): Long =
    Pipeline.tier15FromPages(pages).select("domain", "metric").distinct().count()

  def textInvariant(spark: SparkSession, pagesPath: String): Seq[String] = {
    val v = Pipeline.textInvariantViolations(spark, pagesPath)
    if (v == 0) Nil else Seq(s"$v text invariant violations")
  }

  def all(spark: SparkSession, table: ManifestTableLayer, pages: DataFrame,
      pagesPath: String, days: Seq[String]): Seq[String] =
    tiers(spark, table, pages, days) ++ chunks(spark, table) ++
      textInvariant(spark, pagesPath)

  def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").take(200)}"
  }
}
