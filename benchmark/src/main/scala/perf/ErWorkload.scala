package perf

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** What one job produced and whether it was right. */
final case class ErOutcome(
    run: String,
    wallS: Double,
    ok: Boolean,
    error: Option[String],
    found: Int,
    foundTrue: Int,
    foundMatchable: Int,
    entities: Int,
    components: Long,
    recordsKept: Long,
    writeBytes: Long)

/** What the blocked-match probe found, checked against the planted
  * blocked set.
  */
final case class BlockProbe(span: Span, found: Int, ok: Boolean, recall: Double, preDistinct: Long)

/** The ER workload: repeated complete jobs over one generated dump pair,
  * each checked against the planted truth after its timed span.
  */
final class ErWorkload(spark: SparkSession, rec: Recorder, data: File, work: File) {

  val truth: AminerGen.Truth = AminerGen.readTruth(new File(data, "truth.tsv"))
  private val jobs =
    new ErJobs(spark, rec, new File(data, "dblp.txt").getPath, new File(data, "acm.txt").getPath)
  private val expected = truth.expectedExhaustive
  private val component: Map[String, Int] = ErWorkload.components(expected)
  private val nComponents = component.values.toSet.size
  val Header = "acm_first(value)\tdblp_first(value)"

  /** Run one complete job, then check its outputs (untimed). */
  def job(traced: Boolean): ErOutcome = {
    val run = (if (traced) "t" else "u") + rec.newId()
    val dest = new File(work, s"job-$run")
    val outcome =
      try {
        val j = jobs.monolith(dest.getPath, traced, run)
        try check(j, run)
        finally j.release()
      } catch {
        case e: Throwable =>
          ErOutcome(run, Double.NaN, ok = false, Some(e.toString.take(300)), 0, 0, 0, 0, 0, 0, 0)
      }
    ErWorkload.deleteTree(dest)
    outcome
  }

  private def check(j: ErJob, run: String): ErOutcome = {
    import spark.implicits._
    val dIdx = j.dblp.select($"id", $"index").as[(Long, String)].collect().toMap
    val aIdx = j.acm.select($"id", $"index").as[(Long, String)].collect().toMap
    val found = spark.read.parquet(s"${j.dest}/duplicates")
      .select($"dblp_id", $"acm_id").as[(Long, Long)].collect()
      .map { case (d, a) => (dIdx.getOrElse(d, s"?$d"), aIdx.getOrElse(a, s"?$a")) }
    val foundSet = found.toSet
    val lines = Files.readAllLines(new File(j.dest, "Matched_Entities.csv").toPath, StandardCharsets.UTF_8).asScala
    val rows = lines.drop(1).map { l =>
      val cells = l.split("\t", -1)
      def idx(s: String) = ErWorkload.IndexRe.findFirstMatchIn(s).map(_.group(1).toLowerCase).getOrElse("")
      (component.get("d:" + idx(cells.last)), component.get("a:" + idx(cells.head)))
    }
    // Every row is one whole entity: both representatives in the same
    // planted component, and each component exactly once.
    val entitiesOk = rows.forall { case (d, a) => d.isDefined && d == a } &&
      rows.flatMap(_._1).toSet.size == nComponents && rows.size == nComponents
    val ok = foundSet == expected && found.length == foundSet.size &&
      lines.headOption.contains(Header) && entitiesOk
    val comps = j.clustered.map(_.select("cluster_id").distinct().count()).getOrElse(nComponents.toLong)
    ErOutcome(run, j.wallS, ok, None, found.length, foundSet.count(truth.trueTwins), foundSet.count(truth.expectedExhaustive),
      rows.size, comps, dIdx.size.toLong + aIdx.size, ErJobs.bytesUnder(new File(j.dest)))
  }

  def parseProbe(): (Long, Span) = rec.grouped("parse", 0, "probe")(jobs.parseProbe())

  def blockProbe(): BlockProbe = {
    import spark.implicits._
    val (span, pairs, pre, d, a) = jobs.blockProbe("probe")
    val dIdx = d.select($"id", $"index").as[(Long, String)].collect().toMap
    val aIdx = a.select($"id", $"index").as[(Long, String)].collect().toMap
    Seq(d, a).foreach(_.unpersist(blocking = true))
    val found = pairs.map { case (x, y) => (dIdx.getOrElse(x, s"?$x"), aIdx.getOrElse(y, s"?$y")) }
    val set = found.toSet
    BlockProbe(span, found.size, set == truth.expectedBlocked && set.size == found.size,
      set.count(truth.expectedExhaustive).toDouble / truth.expectedExhaustive.size, pre)
  }
}

object ErWorkload {
  val IndexRe = "#index([A-Za-z0-9]+)".r

  /** Connected components of the bipartite pair graph, keyed "d:"/"a:". */
  def components(pairs: Set[(String, String)]): Map[String, Int] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (d, a) => parent(find("d:" + d)) = find("a:" + a) }
    val roots = parent.keys.toSeq.map(find).distinct.sorted.zipWithIndex.toMap
    parent.keys.map(k => k -> roots(find(k))).toMap
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
