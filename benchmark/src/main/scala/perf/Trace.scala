package perf

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed span. Spans nest through `parent`; `run` tells traced from
  * untraced repetitions apart.
  */
final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

final case class TaskRec(durMs: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Everything the benchmark learns from Spark about its own jobs.
  *
  * A job group named after the span id is set around the span's work; the
  * listener files each stage and task under the group of the job that
  * submitted it, and planning time under the span that was open when the
  * query's planning started. Block updates keep a running total of the bytes cached
  * for RDDs, whose maximum is the run's peak.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]
  private val stageDur = mutable.Map.empty[Int, Long]
  private val planMs = mutable.ArrayBuffer.empty[(Long, Double)] // (phase start, ms)
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfShim.drainListenerBus(spark.sparkContext)

  // ------------------------------------------------------------- spans

  def newId(): Int = synchronized { nextSpan += 1; nextSpan }

  def add(s: Span): Unit = synchronized { spans += s }

  def spansOf(run: String): Seq[Span] = synchronized(spans.filter(_.run == run).toSeq)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Time `body` as a span whose Spark jobs carry the span id as their
    * job group.
    */
  def grouped[T](name: String, parent: Int, run: String)(body: => T): (T, Span) = {
    val id = newId()
    val sc = spark.sparkContext
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out =
      try body
      finally sc.clearJobGroup()
    val s = Span(id, name, parent, run, t0, System.nanoTime())
    add(s)
    (out, s)
  }

  // ---------------------------------------------------------- listener

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))

    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageDur(i.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskRec(
        e.taskInfo.duration,
        m.executorCpuTime,
        m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name + "@" + info.blockManagerId.executorId
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += bytes - blockBytes.getOrElse(key, 0L)
      if (bytes == 0L) blockBytes.remove(key) else blockBytes(key) = bytes
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  // Planning phases carry wall-clock stamps; a query's planning belongs to
  // the span during which its first phase started.
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val startNs = phases.map(_.startTimeMs).min * 1000000L - epochOffsetNs
      synchronized { planMs += ((startNs, phases.map(_.durationMs.toDouble).sum)) }
    }
  }

  // --------------------------------------------------------- summaries

  def peakCachedBytes: Long = synchronized(cachedPeak)

  /** Bytes held now by persisted RDDs, as the storage status reports them. */
  def cachedBytesNow(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The common per-span metric set, summed over the given spans. */
  def layer(spans: Seq[Span], wallS: Double, selfS: Double, cores: Int): Map[String, Double] = synchronized {
    val groups = spans.map(_.id.toString).toSet
    val stages = stageGroup.collect { case (s, g) if groups(g) && stageTasks.contains(s) => s }.toSeq
    val tasks = stages.flatMap(stageTasks(_))
    val plan = planMs.collect { case (t, ms) if spans.exists(s => t >= s.startNs && t < s.endNs) => ms }.sum
    val longest = if (stages.isEmpty) None else Some(stages.maxBy(s => stageDur.getOrElse(s, 0L)))
    val skew = longest.map { s =>
      val d = stageTasks(s).map(_.durMs.toDouble).sorted
      val med = d(d.size / 2)
      d.last / math.max(med, 1.0)
    }.getOrElse(0.0)
    val busyS = tasks.map(_.durMs).sum / 1e3
    Map(
      "wall_s" -> wallS,
      "self_s" -> selfS,
      "plan_ms" -> plan,
      "exec_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "shuffle_mb" -> tasks.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "tasks" -> tasks.size.toDouble,
      "task_skew" -> skew,
      "core_idle_share" -> (if (wallS <= 0) 0.0 else math.max(0.0, 1.0 - busyS / (wallS * cores))))
  }
}

object Trace {
  val Common: Seq[String] =
    Seq("wall_s", "self_s", "plan_ms", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb", "tasks",
      "task_skew", "core_idle_share")

  /** Self time of each span: its wall time minus its children's. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.map(s => s.id -> (s.wallS - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Pairs of sibling spans whose intervals overlap. */
  def overlaps(spans: Seq[Span]): Seq[(Span, Span)] = {
    val sorted = spans.sortBy(_.startNs)
    sorted.zip(sorted.drop(1)).filter { case (a, b) => b.startNs < a.endNs }
  }
}
