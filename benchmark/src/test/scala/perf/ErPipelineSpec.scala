package perf

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** Tiny seeds through the real pipeline: the planted expected sets come
  * back exactly, and traced spans tile the job.
  */
class ErPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var rec: Recorder = _
  private val root = Files.createTempDirectory("er-pipeline").toFile

  override def beforeAll(): Unit = {
    spark = graft.GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    rec = new Recorder(spark)
    rec.register()
  }

  override def afterAll(): Unit = {
    rec.unregister()
    spark.stop()
    ErWorkload.deleteTree(root)
  }

  private def workload(name: String, seed: Long, spec: AminerGen.Spec): ErWorkload = {
    val data = new File(root, s"$name-data")
    AminerGen.write(seed, spec, data)
    val work = new File(root, s"$name-work")
    work.mkdirs()
    new ErWorkload(spark, rec, data, work)
  }

  private def assertTiled(run: String, wallS: Double): Unit = {
    val spans = rec.spansOf(run)
    val job = spans.find(_.name == "job").get
    val children = spans.filter(_.parent == job.id)
    assert(children.map(_.name).toSet == Set("prepare", "match", "cluster", "emit", "write"))
    assert(Trace.overlaps(children).isEmpty, "spans overlap")
    val sorted = children.sortBy(_.startNs)
    assert(sorted.head.startNs == job.startNs && sorted.last.endNs == job.endNs)
    assert(sorted.zip(sorted.drop(1)).forall { case (a, b) => a.endNs == b.startNs }, "gap between spans")
    val self = Trace.selfTimes(spans)
    assert(math.abs(children.map(s => self(s.id)).sum - job.wallS) < 1e-9)
    assert(math.abs(job.wallS - wallS) < 1e-9)
  }

  test("exhaustive monolith reproduces the planted pair set, untraced and traced") {
    val wl = workload("exhaustive", 5L, AminerGen.Spec(units = 2, fillerPerSide = 40))
    val plain = wl.job(traced = false)
    assert(plain.ok, plain)
    assert(plain.found == wl.truth.expectedExhaustive.size)
    assert(plain.foundTrue == plain.found && plain.foundMatchable == plain.found)
    val traced = wl.job(traced = true)
    assert(traced.ok, traced)
    assertTiled(traced.run, traced.wallS)
    val block = wl.blockProbe()
    assert(block.ok)
    assert(block.found == wl.truth.expectedBlocked.size)
    assert(block.recall < 1.0)
    val (records, span) = wl.parseProbe()
    val rendered = Seq("dblp.txt", "acm.txt").map { f =>
      scala.io.Source.fromFile(new File(root, s"exhaustive-data/$f"), "UTF-8").getLines().count(_.startsWith("#index"))
    }.sum
    assert(records == rendered)
    assert(span.wallS > 0)
    val (precision, recall, attempted, failed, correct) = Main.erSummary(wl.truth.expectedExhaustive.size, Seq(plain, traced))
    assert((precision, recall, attempted, failed, correct) == (1.0, 1.0, 2, 0, true))
  }

  test("a job that throws fails the verdict and counts against precision and recall") {
    val wl = workload("broken", 7L, AminerGen.Spec(units = 1, fillerPerSide = 20))
    val good = wl.job(traced = false)
    assert(good.ok, good)
    Files.delete(new File(root, "broken-data/acm.txt").toPath)
    val broken = wl.job(traced = false)
    assert(!broken.ok && broken.error.isDefined)
    val (precision, recall, attempted, failed, correct) = Main.erSummary(wl.truth.expectedExhaustive.size, Seq(good, broken))
    assert(!correct)
    assert(attempted == 2 && failed == 1)
    assert(precision == 0.0)
    assert(recall == 0.5)
  }
}
