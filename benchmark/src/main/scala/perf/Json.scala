package perf

/** A minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null                         => "null"
    case s: String                    => quote(s)
    case o: Option[_]                 => o.fold("null")(apply)
    case b: Boolean                   => b.toString
    case d: Double                    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                     => apply(f.toDouble)
    case n: Int                       => n.toString
    case n: Long                      => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]               => s.map(apply).mkString("[", ",", "]")
    case p: Product                   => apply(scala.collection.immutable.ListMap(p.productElementNames.zip(p.productIterator).toSeq: _*))
    case other                        => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
