package migbench

/** Just enough JSON output for the result file: maps, sequences, strings,
  * numbers, booleans and null. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      sb.append(d)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case p: Product if p.productArity > 0 =>
      write(sb, p.productElementNames.zip(p.productIterator).toSeq.to(scala.collection.immutable.ListMap))
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
