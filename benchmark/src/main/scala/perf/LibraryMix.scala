package perf

import graft.{Caches, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.io.Source

final case class QueryRun(name: String, pass: String, wallS: Double, error: Option[String], span: Span)

/** The library workload: a fixed list of `SparkEntry.queries`, run pass
  * after pass in one session. Each query's timed action is a `noop` write,
  * which computes every output column. Intra-query caches are released
  * after each query, as the library's own runners do.
  */
final class LibraryMix(spark: SparkSession, rec: Recorder, data: String, list: File) {

  /** name -> expected fingerprint, in list order. */
  val expected: Vector[(String, Fingerprint.Print)] =
    LibraryMix.readList(list)

  /** One pass over the list; with `traced`, every query is a span under
    * the pass span and carries its id as job group.
    */
  def pass(name: String, traced: Boolean): (Span, Vector[QueryRun]) = {
    val passId = rec.newId()
    val t0 = System.nanoTime()
    val runs = expected.map { case (q, _) =>
      val fn = SparkEntry.queries(q)
      def body(): Option[String] =
        try { noop(fn(spark, data)); None }
        catch { case e: Throwable => Some(LibraryMix.firstLine(e)) }
      val qr =
        if (traced) {
          val (err, s) = rec.grouped(q, passId, name)(body())
          QueryRun(q, name, s.wallS, err, s)
        } else {
          val q0 = System.nanoTime()
          val err = body()
          val s = Span(0, q, passId, name, q0, System.nanoTime())
          QueryRun(q, name, s.wallS, err, s)
        }
      Caches.releaseAll()
      System.err.println(f"[perf] $name ${qr.name} ${qr.wallS}%.3f ${qr.error.getOrElse("")}")
      qr
    }
    val s = Span(passId, name, 0, name, t0, System.nanoTime())
    rec.add(s)
    (s, runs)
  }

  /** Fingerprint every query's result, outside any timed pass. */
  def check(): Vector[(String, Either[String, Fingerprint.Print])] =
    expected.map { case (q, _) =>
      val got =
        try Right(Fingerprint.of(SparkEntry.queries(q)(spark, data)))
        catch { case e: Throwable => Left(LibraryMix.firstLine(e)) }
      Caches.releaseAll()
      q -> got
    }
}

object LibraryMix {

  /** Lines `name<TAB>rows<TAB>hash`; `#` starts a comment. */
  def readList(f: File): Vector[(String, Fingerprint.Print)] =
    lines(f).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> Fingerprint.Print(rows.toLong, hash)
    }

  def readNames(f: File): Vector[String] = lines(f).map(_.split("\t").head)

  private def lines(f: File): Vector[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
    finally src.close()
  }

  /** Queries whose check threw or whose output differs from the expected
    * fingerprint.
    */
  def wrong(checks: Seq[(String, Either[String, Fingerprint.Print])], expected: Map[String, Fingerprint.Print]): Set[String] =
    checks.collect { case (q, got) if got != Right(expected(q)) => q }.toSet

  /** Failed runs and the verdict. A run fails when it threw or its query's
    * check is wrong; any failure fails the verdict.
    */
  def verdict(runs: Seq[QueryRun], wrong: Set[String]): (Int, Boolean) = {
    val failed = runs.count(r => r.error.isDefined || wrong(r.name))
    (failed, failed == 0 && wrong.isEmpty)
  }

  /** The query family: the name's leading letters (q71_badrecords -> q). */
  def family(name: String): String = name.takeWhile(_.isLetter)

  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("").take(300)
}
