package perf

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** SplitMix64: a fixed, JDK-independent generator, so a seed renders the
  * same bytes on every JVM.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def int(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def range(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)
  def chance(p: Double): Boolean = (nextLong() >>> 11) * (1.0 / (1L << 53)) < p
  def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.size))
  def shuffle[T](xs: IndexedSeq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = int(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

/** Seeded AMiner v8 dump generator with planted truth.
  *
  * Records come in groups. A group is one paper: a twin pair, a chain of
  * four near-copies, or a lone record. Every group gets its own title
  * words, so two records of different groups share at most the two common
  * words and their title Jaccard stays below 0.6: only records of the same
  * group can match, and the generator evaluates the match predicate on
  * each of those pairs exactly. The expected pair set is therefore known
  * by construction, for the exhaustive run and for rolling-year blocking.
  *
  * The rendering adds noise that cleaning must remove without changing
  * the result: capitals, accents, digits and periods in author names,
  * unsorted name tokens, stopwords and punctuation in titles. Counts per
  * category are fixed, so every seed gives a workload of the same size
  * and the same expected recall.
  */
object AminerGen {

  val LowerYear = 1995
  val UpperYear = 2004
  val Tags: Seq[String] = Seq("sigmod", "vldb")
  val LevMax = 10
  val JaccardMin = 0.6

  private val SigmodVenues = Vector("SIGMOD Conference", "SIGMOD Record", "Proceedings of the ACM SIGMOD")
  private val VldbVenues = Vector("VLDB", "VLDB Journal", "Very Large Data Bases (VLDB)")
  private val OtherVenues = Vector("ICDE", "KDD", "CIKM", "Information Systems", "TODS", "WWW", "EDBT")
  private val TitleStopwords = Vector("the", "of", "and", "a", "for", "on", "in", "with", "to", "an", "by")
  private val Punct = Vector(",", ":", ".", "?", "!", ";")
  private val Common = Vector("kdata", "kquery")
  private val FirstNames = Vector(
    "anna", "boris", "carla", "dmitri", "elena", "farid", "greta", "hiro", "ines", "jonas",
    "kemal", "lucia", "marek", "nadia", "oscar", "paula", "quentin", "rosa", "stefan", "tomas",
    "ulla", "victor", "wanda", "xavier", "yusuf", "zofia")
  private val Surnames = Vector(
    "abernathy", "bergstrom", "castellano", "dimitrov", "eriksson", "fontaine", "gallagher",
    "hoffmann", "ivanova", "jablonski", "kowalczyk", "lindqvist", "montgomery", "nakamura",
    "oliveira", "petrovic", "quintero", "rasmussen", "schneider", "takahashi", "underwood",
    "vasquez", "whitfield", "yamamoto", "zimmermann", "bianchi", "delacroix", "halvorsen")
  private val FillerWords = Vector(
    "data", "query", "index", "stream", "graph", "model", "learning", "system", "parallel",
    "distributed", "storage", "transaction", "optimization", "mining", "network", "search",
    "scalable", "efficient", "approximate", "database", "processing", "join", "cache", "schema")
  private val Accents: Map[Char, Vector[Char]] = Map(
    'a' -> Vector('á', 'à', 'â', 'ä'), 'e' -> Vector('é', 'è', 'ê', 'ë'),
    'i' -> Vector('í', 'ï'), 'o' -> Vector('ó', 'ö', 'ô'), 'u' -> Vector('ú', 'ü'),
    'n' -> Vector('ñ'), 'c' -> Vector('ç'))

  /** One record in model form: what cleaning must reduce it to. */
  final case class Rec(
      index: String,
      title: Vector[String],
      authors: Vector[Vector[String]],
      year: Int,
      venue: String,
      refs: Int) {
    def inFilter: Boolean =
      year >= LowerYear && year <= UpperYear && Tags.exists(t => venue.toLowerCase.contains(t))
    def cleanAuthors: Option[String] =
      if (authors.isEmpty) None else Some(authors.map(_.sorted.mkString(" ")).mkString(", "))
    def tags: Seq[String] = Tags.filter(t => venue.toLowerCase.contains(t))
  }

  /** Record counts of one workload. A unit is one of each planted
    * category; `units` scales them together.
    */
  final case class Spec(units: Int, fillerPerSide: Int)

  /** The rolling-year window of the planted blocked truth: the paper's
    * recommended N.
    */
  val BlockN = 2

  final case class Truth(
      dblpInFilter: Int,
      acmInFilter: Int,
      recordsPerSide: Int,
      trueTwins: Set[(String, String)],
      expectedExhaustive: Set[(String, String)],
      expectedBlocked: Set[(String, String)],
      candidateExhaustive: Long,
      candidateBlocked: Long)

  // ---------------------------------------------------------------- words

  private val Consonants = "bdfglmnprstvz"
  private val Vowels = "aeiou"

  /** The n-th title word: unique per n below 2^24 (an odd multiplier
    * permutes that range, so neighbours look unrelated), always holding a
    * 'k' or 'z' so it can never be an English stopword.
    */
  def word(n: Int): String = {
    val p = (n * 0x9e3779b1) & 0xffffff
    val sb = new StringBuilder
    sb.append(if (p % 2 == 0) 'k' else 'z')
    var x = p / 2
    do {
      sb.append(Consonants(x % Consonants.length)); x /= Consonants.length
      sb.append(Vowels(x % Vowels.length)); x /= Vowels.length
    } while (x > 0)
    sb.toString
  }

  // ------------------------------------------------------------ predicate

  def levenshtein(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      i += 1
    }
    prev(b.length)
  }

  def jaccard(a: Vector[String], b: Vector[String]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** The pipeline's match predicate on two in-filter records, year aside. */
  def predicate(d: Rec, a: Rec): Boolean = {
    val sameVenue = Tags.exists(t => d.tags.contains(t) && a.tags.contains(t))
    (d.cleanAuthors, a.cleanAuthors) match {
      case (Some(x), Some(y)) =>
        sameVenue && d.authors.size == a.authors.size && levenshtein(x, y) < LevMax &&
          jaccard(d.title, a.title) >= JaccardMin
      case _ => false // a null author string never scores
    }
  }

  private def windows(y: Int, n: Int): Range =
    math.max(LowerYear, y - n) to math.min(y, UpperYear - n)

  /** Do two records share a rolling-year block of size n? */
  def shareBlock(d: Rec, a: Rec, n: Int): Boolean =
    Tags.exists(t => d.tags.contains(t) && a.tags.contains(t)) &&
      windows(d.year, n).intersect(windows(a.year, n)).nonEmpty

  // ------------------------------------------------------------ rendering

  private def accent(rng: Rng, w: String, p: Double): String =
    w.map(c => Accents.get(c).filter(_ => rng.chance(p)).map(rng.pick).getOrElse(c))

  private def cap(w: String): String = w.head.toUpper.toString + w.tail

  private def renderTitle(rng: Rng, words: Vector[String]): String = {
    val out = Vector.newBuilder[String]
    if (rng.chance(0.5)) out += cap(rng.pick(TitleStopwords))
    words.zipWithIndex.foreach { case (w, i) =>
      var t = accent(rng, w, 0.08)
      if (rng.chance(0.3)) t = cap(t)
      if (rng.chance(0.15)) t = t + rng.pick(Punct)
      else if (rng.chance(0.05)) t = "\"" + t + "\""
      out += t
      if (i < words.size - 1 && rng.chance(0.25)) out += rng.pick(TitleStopwords)
    }
    out.result().mkString(" ")
  }

  private def renderName(rng: Rng, toks: Vector[String]): String =
    rng.shuffle(toks).map { t =>
      val base = if (t.length == 1) t.toUpperCase + "." else cap(accent(rng, t, 0.1))
      if (rng.chance(0.05)) base + rng.range(1, 9) else base
    }.mkString(if (rng.chance(0.1)) "  " else " ")

  def render(rng: Rng, r: Rec, sb: java.lang.StringBuilder): Unit = {
    sb.append("#*").append(renderTitle(rng, r.title)).append('\n')
    if (r.authors.nonEmpty)
      sb.append("#@").append(r.authors.map(renderName(rng, _)).mkString(if (rng.chance(0.2)) "," else ", ")).append('\n')
    sb.append("#t").append(r.year).append('\n')
    sb.append("#c").append(r.venue).append('\n')
    sb.append("#index").append(r.index)
    var i = 0
    while (i < r.refs) { sb.append("\n#%").append(rng.range(1, 9999999)); i += 1 }
  }

  // ------------------------------------------------------------- planting

  private final class Planter(rng: Rng) {
    private var nextWord = 0
    private var nextId = 0
    val dblp = Vector.newBuilder[Rec]
    val acm = Vector.newBuilder[Rec]
    val groups = Vector.newBuilder[(Vector[Rec], Vector[Rec])]

    def freshWords(k: Int): Vector[String] = Vector.fill(k) { nextWord += 1; word(nextWord) }
    def id(prefix: String): String = { nextId += 1; f"$prefix$nextId%07d" }

    def title(): Vector[String] =
      freshWords(rng.range(7, 10)) ++ (if (rng.chance(0.5)) Vector(rng.pick(Common)) else Vector.empty)

    def name(): Vector[String] =
      if (rng.chance(0.2)) Vector(rng.pick(FirstNames).take(1), rng.pick(Surnames))
      else Vector(rng.pick(FirstNames), rng.pick(Surnames))

    def authors(): Vector[Vector[String]] = Vector.fill(rng.range(1, 4))(name())

    def venue(tag: String): String = if (tag == "sigmod") rng.pick(SigmodVenues) else rng.pick(VldbVenues)

    def year(): Int = rng.range(LowerYear, UpperYear)

    /** A second year `drift` away from y, kept inside the filter window. */
    def drifted(y: Int, drift: Int): Int =
      if (drift == 0) y
      else if (y + drift <= UpperYear && (y - drift < LowerYear || rng.chance(0.5))) y + drift
      else y - drift

    def rec(prefix: String, title: Vector[String], au: Vector[Vector[String]], y: Int, v: String): Rec =
      Rec(id(prefix), title, au, y, v, rng.range(0, 4))

    def add(ds: Vector[Rec], as: Vector[Rec]): Unit = {
      dblp ++= ds; acm ++= as; groups += ((ds, as))
    }

    /** Apply k single-letter edits to the name tokens. */
    def typo(au: Vector[Vector[String]], k: Int): Vector[Vector[String]] = {
      var out = au
      (1 to k).foreach { _ =>
        val n = rng.int(out.size)
        val t = rng.int(out(n).size)
        val w = out(n)(t)
        val p = rng.int(w.length)
        val letter = ('a' + rng.int(26)).toChar
        val edited = rng.int(3) match {
          case 0 => w.updated(p, letter)
          case 1 => w.patch(p, letter.toString, 0)
          case _ => if (w.length > 2) w.patch(p, "", 1) else w + letter
        }
        out = out.updated(n, out(n).updated(t, edited))
      }
      out
    }

    /** Retry a perturbation until the pair has the intended outcome. */
    def until(p: (Rec, Rec) => Boolean)(make: => (Rec, Rec)): (Rec, Rec) = {
      var pair = make
      while (!p(pair._1, pair._2)) pair = make
      pair
    }

    def lev(d: Rec, a: Rec): Int = levenshtein(d.cleanAuthors.get, a.cleanAuthors.get)

    /** One unit: every planted category once. */
    def unit(): Unit = {
      val tag = () => rng.pick(Tags.toVector)
      // Twins that match: identical after cleaning, drift 0-2 years.
      (1 to 6).foreach { _ =>
        val (t, au, y, v) = (title(), authors(), year(), venue(tag()))
        add(Vector(rec("d", t, au, y, v)), Vector(rec("a", t, au, drifted(y, rng.int(3)), venue(tag_of(v)))))
      }
      // Twins that match inside the thresholds: 1-5 author edits, one
      // title word replaced or dropped.
      (1 to 6).foreach { _ =>
        val (t, au, y, v) = (title(), authors(), year(), venue(tag()))
        val d = rec("d", t, au, y, v)
        val (_, a) = until((x, z) => lev(x, z) >= 1 && predicate(x, z)) {
          val t2 = if (rng.chance(0.5)) t.updated(rng.int(t.size), freshWords(1).head) else t.patch(rng.int(t.size), Nil, 1)
          (d, rec("a", t2, typo(au, rng.range(1, 5)), drifted(y, rng.int(3)), venue(tag_of(v))))
        }
        add(Vector(d), Vector(a))
      }
      // Twins outside the Levenshtein bound: same title, authors far apart.
      (1 to 2).foreach { _ =>
        val (t, au, y, v) = (title(), authors(), year(), venue(tag()))
        val d = rec("d", t, au, y, v)
        val (_, a) = until((x, z) => lev(x, z) >= LevMax) {
          (d, rec("a", t, typo(au, rng.range(12, 16)), drifted(y, rng.int(3)), venue(tag_of(v))))
        }
        add(Vector(d), Vector(a))
      }
      // Twins outside the Jaccard bound: same authors, half the title new.
      (1 to 2).foreach { _ =>
        val (t, au, y, v) = (title(), authors(), year(), venue(tag()))
        val d = rec("d", t, au, y, v)
        val (_, a) = until((x, z) => jaccard(x.title, z.title) < JaccardMin) {
          (d, rec("a", t.take(t.size / 2) ++ freshWords(t.size - t.size / 2), au, drifted(y, rng.int(3)), venue(tag_of(v))))
        }
        add(Vector(d), Vector(a))
      }
      // A twin with one author more on one side.
      locally {
        val (t, au, y, v) = (title(), authors(), year(), venue(tag()))
        add(Vector(rec("d", t, au, y, v)), Vector(rec("a", t, au :+ name(), y, venue(tag_of(v)))))
      }
      // Zero-author twins: a null author string never matches.
      locally {
        val (t, y, v) = (title(), year(), venue(tag()))
        add(Vector(rec("d", t, Vector.empty, y, v)), Vector(rec("a", t, Vector.empty, y, venue(tag_of(v)))))
      }
      // Twins 3-5 years apart: exhaustive matching finds them, blocking
      // at N=2 does not.
      (1 to 2).foreach { _ =>
        val (t, au, y, v) = (title(), authors(), year(), venue(tag()))
        add(Vector(rec("d", t, au, y, v)), Vector(rec("a", t, au, drifted(y, rng.range(3, 5)), venue(tag_of(v)))))
      }
      // A chain d1-a1-d2-a2: each step replaces one more leading title
      // word, so d1 and a2 do not match and only clustering joins them.
      locally {
        val base = freshWords(10)
        val (au, y, v) = (authors(), rng.range(LowerYear, UpperYear - 1), venue(tag()))
        val repl = freshWords(3)
        def variant(k: Int) = repl.take(k) ++ base.drop(k)
        val ds = Vector(rec("d", variant(0), au, y, v), rec("d", variant(2), au, y, v))
        val as = Vector(rec("a", variant(1), au, y + 1, venue(tag_of(v))), rec("a", variant(3), au, y, venue(tag_of(v))))
        add(ds, as)
      }
      // Twins in different venues.
      locally {
        val (t, au, y) = (title(), authors(), year())
        add(Vector(rec("d", t, au, y, venue("sigmod"))), Vector(rec("a", t, au, y, venue("vldb"))))
      }
      // A twin whose copy falls outside the year filter.
      locally {
        val (t, au, v) = (title(), authors(), venue(tag()))
        add(Vector(rec("d", t, au, UpperYear, v)), Vector(rec("a", t, au, UpperYear + 1, venue(tag_of(v)))))
      }
      // Lone in-filter records on each side.
      (1 to 3).foreach { _ => add(Vector(rec("d", title(), authors(), year(), venue(tag()))), Vector.empty) }
      (1 to 3).foreach { _ => add(Vector.empty, Vector(rec("a", title(), authors(), year(), venue(tag())))) }
    }

    private def tag_of(v: String): String = if (v.toLowerCase.contains("sigmod")) "sigmod" else "vldb"
  }

  /** A filler record outside the year/venue filter. */
  private def filler(rng: Rng, index: String, sb: java.lang.StringBuilder): Unit = {
    val (year, venue) =
      if (rng.chance(0.6)) (rng.range(1980, 2015), rng.pick(OtherVenues))
      else {
        val y = if (rng.chance(0.5)) rng.range(1970, LowerYear - 1) else rng.range(UpperYear + 1, 2015)
        (y, if (rng.chance(0.5)) rng.pick(SigmodVenues) else rng.pick(VldbVenues))
      }
    val title = Vector.fill(rng.range(5, 10))(rng.pick(FillerWords))
    val au = Vector.fill(rng.range(0, 4))(Vector(rng.pick(FirstNames), rng.pick(Surnames)))
    render(rng, Rec(index, title, au, year, venue, rng.range(0, 5)), sb)
  }

  // ------------------------------------------------------------------ API

  /** Plant the groups and derive the truth; no files. */
  def plant(seed: Long, spec: Spec): (Vector[Rec], Vector[Rec], Truth) = {
    val rng = new Rng(seed)
    val p = new Planter(rng)
    (1 to spec.units).foreach(_ => p.unit())
    val (dblp, acm) = (p.dblp.result(), p.acm.result())
    val twins = Set.newBuilder[(String, String)]
    val exhaustive = Set.newBuilder[(String, String)]
    val blocked = Set.newBuilder[(String, String)]
    p.groups.result().foreach { case (ds, as) =>
      for (d <- ds; a <- as) {
        twins += ((d.index, a.index))
        if (d.inFilter && a.inFilter && predicate(d, a)) {
          exhaustive += ((d.index, a.index))
          if (shareBlock(d, a, BlockN)) blocked += ((d.index, a.index))
        }
      }
    }
    val (dIn, aIn) = (dblp.filter(_.inFilter), acm.filter(_.inFilter))
    def hist(rs: Vector[Rec]) = rs.flatMap(r => r.tags.map(t => (t, r.year))).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val (hd, ha) = (hist(dIn), hist(aIn))
    val candExh = Tags.map(t => hd.collect { case ((`t`, _), c) => c }.sum * ha.collect { case ((`t`, _), c) => c }.sum).sum
    val candBlk = (for (((t, yd), cd) <- hd.toSeq; ((u, ya), ca) <- ha.toSeq
                        if t == u && windows(yd, BlockN).intersect(windows(ya, BlockN)).nonEmpty) yield cd * ca).sum
    val truth = Truth(dIn.size, aIn.size, dblp.size + spec.fillerPerSide, twins.result(),
      exhaustive.result(), blocked.result(), candExh, candBlk)
    (dblp, acm, truth)
  }

  /** Write `dblp.txt`, `acm.txt` and `truth.tsv` into `dir`. */
  def write(seed: Long, spec: Spec, dir: File): Truth = {
    val (dblp, acm, truth) = plant(seed, spec)
    dir.mkdirs()
    val rng = new Rng(seed ^ 0x5deece66dL)
    writeSide(rng, new File(dir, "dblp.txt"), dblp, spec.fillerPerSide, "f")
    writeSide(rng, new File(dir, "acm.txt"), acm, spec.fillerPerSide, "g")
    writeTruth(new File(dir, "truth.tsv"), truth)
    truth
  }

  private def writeSide(rng: Rng, f: File, planted: Vector[Rec], fillers: Int, fillerPrefix: String): Unit = {
    val order = rng.shuffle(planted)
    val total = order.size + fillers
    // Planted records land at sorted random positions among the fillers.
    val slots = Array.fill(order.size)(rng.int(total)).sorted
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    val sb = new java.lang.StringBuilder(512)
    try {
      var (pos, next, fill) = (0, 0, 0)
      while (pos < total) {
        sb.setLength(0)
        if (pos > 0) sb.append("\n\n")
        if (next < order.size && (slots(next) <= pos || fill >= fillers)) {
          render(rng, order(next), sb); next += 1
        } else {
          fill += 1
          filler(rng, f"$fillerPrefix$fill%08d", sb)
        }
        out.append(sb)
        pos += 1
      }
      out.append('\n')
    } finally out.close()
  }

  def writeTruth(f: File, t: Truth): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
    try {
      out.write(s"#records_per_side\t${t.recordsPerSide}\n")
      out.write(s"#dblp_in_filter\t${t.dblpInFilter}\n#acm_in_filter\t${t.acmInFilter}\n")
      out.write(s"#candidate_pairs_exhaustive\t${t.candidateExhaustive}\n")
      out.write(s"#candidate_pairs_blocked\t${t.candidateBlocked}\n")
      out.write("dblp_index\tacm_index\ttrue_twin\tmatch_exhaustive\tmatch_blocked\n")
      (t.trueTwins ++ t.expectedExhaustive).toSeq.sorted.foreach { k =>
        def b(s: Set[(String, String)]) = if (s.contains(k)) "1" else "0"
        out.write(s"${k._1}\t${k._2}\t${b(t.trueTwins)}\t${b(t.expectedExhaustive)}\t${b(t.expectedBlocked)}\n")
      }
    } finally out.close()
  }

  def readTruth(f: File): Truth = {
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
    val meta = lines.filter(_.startsWith("#")).map { l => val Array(k, v) = l.drop(1).split("\t"); k -> v.toLong }.toMap
    val rows = lines.filterNot(_.startsWith("#")).drop(1).map(_.split("\t"))
    def set(col: Int) = rows.filter(_(col) == "1").map(r => (r(0), r(1))).toSet
    Truth(meta("dblp_in_filter").toInt, meta("acm_in_filter").toInt, meta("records_per_side").toInt,
      set(2), set(3), set(4), meta("candidate_pairs_exhaustive"), meta("candidate_pairs_blocked"))
  }
}
