package graftbench

/** Minimal JSON writer for the harness's result file (maps, sequences,
  * strings, numbers, booleans). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: Map[_, _] =>
        sb += '{'
        m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(x)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case p: Product => go(p.productIterator.toSeq)
      case x => str(x.toString)
    }
    go(v)
    sb.toString
  }
}
