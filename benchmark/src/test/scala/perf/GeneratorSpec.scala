package perf

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class GeneratorSpec extends AnyFunSuite {

  private val spec = AminerGen.Spec(units = 3, fillerPerSide = 500)

  private def tempDir(): File = Files.createTempDirectory("aminer-gen").toFile

  private def bytes(dir: File, name: String): Array[Byte] = Files.readAllBytes(new File(dir, name).toPath)

  test("a seed renders byte-identical dumps and truth") {
    val (a, b) = (tempDir(), tempDir())
    try {
      AminerGen.write(7L, spec, a)
      AminerGen.write(7L, spec, b)
      for (f <- Seq("dblp.txt", "acm.txt", "truth.tsv"))
        assert(java.util.Arrays.equals(bytes(a, f), bytes(b, f)), f)
    } finally Seq(a, b).foreach(ErWorkload.deleteTree)
  }

  test("different seeds give different dumps of the same size") {
    val (_, _, t1) = AminerGen.plant(1L, spec)
    val (_, _, t2) = AminerGen.plant(2L, spec)
    assert(t1.expectedExhaustive != t2.expectedExhaustive)
    assert(t1.dblpInFilter == t2.dblpInFilter && t1.acmInFilter == t2.acmInFilter)
    assert(t1.expectedExhaustive.size == t2.expectedExhaustive.size)
    assert(t1.expectedBlocked.size == t2.expectedBlocked.size)
  }

  test("planted categories give the intended truth") {
    val (dblp, acm, t) = AminerGen.plant(3L, spec)
    // Per unit: 6 exact + 6 fuzzy + 2 far-drift twins + 3 chain edges match
    // exhaustively; the far-drift twins are lost to N=2 blocking.
    assert(t.expectedExhaustive.size == 17 * spec.units)
    assert(t.expectedBlocked.size == 15 * spec.units)
    assert(t.expectedBlocked.subsetOf(t.expectedExhaustive))
    assert(t.expectedExhaustive.subsetOf(t.trueTwins))
    // Non-twins never reach the title threshold.
    val groupOf = t.trueTwins.toSeq.flatMap { case (d, a) => Seq(d -> d, a -> d) }.toMap
    for (d <- dblp if d.inFilter; a <- acm if a.inFilter if !t.trueTwins((d.index, a.index)))
      assert(AminerGen.jaccard(d.title, a.title) < AminerGen.JaccardMin, (d.index, a.index, groupOf.get(d.index)))
  }

  test("rendered noise cleans back to the model form") {
    val rng = new Rng(11L)
    val rec = AminerGen.Rec("d0000001", Vector("kzabu", "zemo"), Vector(Vector("j", "smith"), Vector("anna", "oliveira")),
      1999, "VLDB Journal", 2)
    val sb = new java.lang.StringBuilder
    AminerGen.render(rng, rec, sb)
    val text = sb.toString
    assert(text.startsWith("#*") && text.contains("\n#t1999\n#cVLDB Journal\n#indexd0000001"))
    assert(text.split("\n").count(_.startsWith("#%")) == 2)
    assert(rec.cleanAuthors.contains("j smith, anna oliveira"))
  }
}
