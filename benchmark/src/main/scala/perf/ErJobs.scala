package perf

import graft.output.Writers
import graft.pipeline.EntityResolution
import graft.sources.AminerReader
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import java.io.File

/** Where a finished job left its outputs, plus what the check needs. */
final case class ErJob(
    wallS: Double,
    dest: String,
    dblp: DataFrame,
    acm: DataFrame,
    clustered: Option[DataFrame],
    release: () => Unit)

/** The ER job of the pipeline, driven through its public calls.
  *
  * `monolith` is `graft.pipeline.Main`'s sequence with exhaustive
  * matching: prepared frames and pairs cached and handed over in memory.
  *
  * Untraced, a job runs exactly that sequence and only its wall time is
  * taken. Traced, each public call's result is materialized before the
  * next call (cache plus a `noop` write, which computes every column), so
  * the spans prepare, match, cluster, emit and write each hold only their
  * own layer's work. The spans are laid end to end: each starts where the
  * previous one ended, so their self times sum to the job's wall time.
  */
final class ErJobs(spark: SparkSession, rec: Recorder, dblpRaw: String, acmRaw: String) {

  val cfg: EntityResolution.Config = EntityResolution.Config()

  /** Lays spans end to end under one job span. */
  private final class Tiler(traced: Boolean, run: String) {
    val jobId: Int = rec.newId()
    val start: Long = System.nanoTime()
    private var cursor = start
    def step[T](name: String)(body: => T): T =
      if (!traced) body
      else {
        val id = rec.newId()
        spark.sparkContext.setJobGroup(id.toString, name, interruptOnCancel = false)
        val out =
          try body
          finally spark.sparkContext.clearJobGroup()
        val end = System.nanoTime()
        rec.add(Span(id, name, jobId, run, cursor, end))
        cursor = end
        out
      }
    def finish(): Double = {
      val end = if (traced) cursor else System.nanoTime()
      if (traced) rec.add(Span(jobId, "job", 0, run, start, end))
      (end - start) / 1e9
    }
  }

  private def materialize(df: DataFrame, traced: Boolean): DataFrame =
    if (traced) { val c = df.cache(); noop(c); c } else df

  def monolith(dest: String, traced: Boolean, run: String): ErJob = {
    val t = new Tiler(traced, run)
    val (dblp, acm) = t.step("prepare") {
      val d = EntityResolution.prepareDataset(spark, dblpRaw, cfg).cache()
      val a = EntityResolution.prepareDataset(spark, acmRaw, cfg).cache()
      if (traced) { noop(d); noop(a) }
      (d, a)
    }
    val pairs = t.step("match") {
      val p = EntityResolution.matchPairs(dblp, acm, cfg).cache()
      if (traced) noop(p)
      p
    }
    val clustered = t.step("cluster")(materialize(EntityResolution.resolveEntities(pairs), traced))
    val wide = t.step("emit")(materialize(EntityResolution.emitEntities(clustered, dblp, acm), traced))
    t.step("write") {
      Writers.writeCsvRenamed(wide, dest)
      Writers.writeParquet(pairs, s"$dest/duplicates", coalesce1 = true)
    }
    val wall = t.finish()
    ErJob(wall, dest, dblp, acm, Some(clustered).filter(_ => traced),
      () => Seq(wide, clustered, pairs, dblp, acm).foreach(_.unpersist(blocking = true)))
  }

  /** Blocked matching (rolling years, N=2) on freshly prepared frames, as a
    * probe of the blocking path: preparation is untimed, the match is the
    * span `block`. Returns the span, the matched (dblp_id, acm_id) pairs
    * and the rows that entered the final distinct.
    */
  def blockProbe(run: String): (Span, Seq[(Long, Long)], Long, DataFrame, DataFrame) = {
    val d = EntityResolution.prepareDataset(spark, dblpRaw, cfg).cache()
    val a = EntityResolution.prepareDataset(spark, acmRaw, cfg).cache()
    noop(d); noop(a)
    val blocked = cfg.copy(yearBlockSize = Some(AminerGen.BlockN))
    val (pairs, span) = rec.grouped("block", 0, run) {
      val p = EntityResolution.matchPairs(d, a, blocked).cache()
      noop(p)
      p
    }
    import spark.implicits._
    val found = pairs.select($"dblp_id", $"acm_id").as[(Long, Long)].collect().toSeq
    val pre = preDistinct(pairs)
    pairs.unpersist(blocking = true)
    (span, found, pre, d, a)
  }

  /** Parse both dumps through the reader alone, computing every parsed
    * field; returns the record count.
    */
  def parseProbe(): Long =
    Seq(dblpRaw, acmRaw).map { p =>
      val o = Observation()
      noop(AminerReader.load(spark, p).observe(o, count(lit(1)).as("n")))
      o.get("n").asInstanceOf[Long]
    }.sum

  /** Rows entering the blocking path's final distinct, read from the
    * executed plan's SQL metrics of a materialized blocked match.
    */
  private def preDistinct(pairs: DataFrame): Long =
    ErJobs.flatten(pairs.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.aggregateExpressions.isEmpty && !ErJobs.isExchange(a.child) =>
        ErJobs.firstRowCount(a.child)
    }.sum
}

object ErJobs {
  def isExchange(p: SparkPlan): Boolean =
    p.nodeName.contains("Exchange") || p.isInstanceOf[QueryStageExec]

  /** Every node of an executed plan, looking through adaptive plans, query
    * stages and cached relations.
    */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case q: QueryStageExec         => Seq(q.plan)
      case m: InMemoryTableScanExec  => Seq(m.relation.cachedPlan)
      case _                         => Nil
    }
    p +: (p.children ++ p.subqueries ++ inner).flatMap(flatten)
  }

  /** The row count of the nearest node under `p` that reports one. */
  def firstRowCount(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case _                        => p.children
      }
      kids.headOption.map(firstRowCount).getOrElse(0L)
    }

  /** Total bytes of the files under `dir`. */
  def bytesUnder(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (dir.isFile) dir.length()
    else 0L
}
