package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark span around a call into a layer. Times are epoch ms, the
  * clock Spark stamps job events and the table stamps commits with.
  */
final case class Span(id: String, name: String, startMs: Long, endMs: Long)

/** One Spark job seen by the listener, tied to the span whose job group was
  * set when it was submitted.
  */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int])

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** A commit of the table's snapshot log: the keys it added and when. */
final case class Commit(id: Long, atMs: Long, keys: Seq[String], bytes: Long,
    addedBytes: Long, addedRows: Long)

/** Spans from the benchmark's own calls plus job/stage/task metrics from an
  * external SparkListener. While `on` is false nothing is recorded and no
  * job group is set, so untraced operations pay only the listener's
  * flag check.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var on = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var seq = 0

  sc.addSparkListener(this)

  /** Run `body` as span `name` (spans do not nest). */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    seq += 1
    val id = s"$name#$seq"
    sc.setJobGroup(id, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(id, name, t0, System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }

  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  def jobsOf(spanId: String): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(_.group == spanId).toSeq
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAgg))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (agg <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      agg.tasks += 1
      agg.runMs += m.executorRunTime
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.inputBytes += m.inputMetrics.bytesRead
      agg.inputRecords += m.inputMetrics.recordsRead
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      agg.durations += e.taskInfo.duration
    }
  }
}

object Trace {
  private val mapper = new ObjectMapper()

  /** Layer a partition key belongs to, from its prefix. */
  def layerOf(key: String): String =
    if (key.startsWith("tier=15min/")) "rollup.tier15"
    else if (key.startsWith("tier=")) "rollup.chain"
    else if (key.startsWith("chunks-15min/")) "chunk.encode"
    else if (key.startsWith("index-15min/")) "chunk.index"
    else "table.other"

  /** Commits with id > `afterId` in the table's snapshot log, each with
    * the keys it added (new or replaced partitions) and their bytes.
    */
  def commitsAfter(tableRoot: Path, afterId: Long): Seq[Commit] = {
    val snaps = tableRoot.resolve("snapshots")
    def load(id: Long) = {
      val p = snaps.resolve(s"snap-$id.json")
      val n = mapper.readTree(Files.readString(p))
      val parts = n.get("partitions").elements().asScala.map(x =>
        (x.get("key").asText(), x.get("path").asText(), x.get("bytes").asLong(),
          x.get("rows").asLong())).toSeq
      (java.time.Instant.parse(n.get("committed_at").asText()).toEpochMilli,
        parts, Files.size(p))
    }
    val ids = Files.list(snaps).iterator().asScala
      .map(_.getFileName.toString.stripPrefix("snap-").stripSuffix(".json").toLong)
      .filter(_ > afterId).toSeq.sorted
    var prev: Set[(String, String)] =
      if (afterId >= 0) load(afterId)._2.map(p => (p._1, p._2)).toSet else Set.empty
    ids.map { id =>
      val (at, parts, bytes) = load(id)
      val added = parts.filterNot(p => prev.contains((p._1, p._2)))
      prev = parts.map(p => (p._1, p._2)).toSet
      Commit(id, at, added.map(_._1), bytes, added.map(_._3).sum, added.map(_._4).sum)
    }
  }

  /** A unit of work inside a pipeline call: the interval from the previous
    * commit (or the call's start) to its own commit, and the jobs that ran
    * in it.
    */
  final case class WorkUnit(layer: String, startMs: Long, endMs: Long,
      commit: Commit, jobs: Seq[JobRec]) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** Attribute each job of a pipeline span to the first commit at or after
    * its end: the engine commits a unit only after its jobs finished, and
    * the next unit's jobs start after that commit. Jobs ending after the
    * last commit are returned separately (none are expected).
    */
  def units(span: Span, commits: Seq[Commit], jobs: Seq[JobRec])
      : (Seq[WorkUnit], Seq[JobRec]) = {
    val byCommit = jobs.groupBy(j => commits.indexWhere(c => j.endMs <= c.atMs))
    val us = commits.zipWithIndex.map { case (c, i) =>
      val start = if (i == 0) span.startMs else commits(i - 1).atMs
      WorkUnit(layerOf(c.keys.headOption.getOrElse("")), start, c.atMs, c,
        byCommit.getOrElse(i, Seq.empty))
    }
    (us, byCommit.getOrElse(-1, Seq.empty))
  }

  /** Wall time of [startMs, endMs] covered by no job. */
  def gapMs(startMs: Long, endMs: Long, jobs: Seq[JobRec]): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    (endMs - startMs) - covered
  }
}
