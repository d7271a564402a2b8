package perfbench

/** Minimal JSON writer for the harness output. Doubles print with
  * Java's round-trip repr (NaN and the infinities as Python's json
  * reads them); dates, timestamps and decimals print as strings. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  /** A collected frame: column names, Spark type names and rows. */
  final case class Table(cols: Seq[String], types: Seq[String], rows: Seq[Seq[Any]])

  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN) "NaN" else if (d.isPosInfinity) "Infinity"
              else if (d.isNegInfinity) "-Infinity" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => sb ++= n.toString
    case o: Obj =>
      seq(sb, '{', '}', o.fields) { case (k, x) => quote(sb, k); sb += ':'; write(sb, x) }
    case t: Table => write(sb, Obj(Seq("cols" -> t.cols, "types" -> t.types, "rows" -> t.rows)))
    case xs: Iterable[_] => seq(sb, '[', ']', xs)(write(sb, _))
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => quote(sb, other.toString) // dates, timestamps, decimals
  }

  private def seq[A](sb: StringBuilder, open: Char, close: Char, xs: Iterable[A])(
      f: A => Unit): Unit = {
    sb += open
    var first = true
    xs.foreach { x => if (!first) sb += ','; first = false; f(x) }
    sb += close
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
