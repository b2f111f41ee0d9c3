package graft

package object queries {

  /** Oracle text, its margin stripped once by [[SqlInterpolator]]. */
  final class Sql private[queries] (val text: String) { override def toString: String = text }

  /** `sql"""…"""`: oracle text as a [[Sql]] value, its margin stripped
    * once, here, in the literal's own parts: the first part on every
    * line, every later part only after its first newline (the text
    * before it continues the line of the argument just inserted).
    * Arguments go in verbatim (an [[Sql]] as its text, anything else via
    * `toString`), so a line of an argument that starts with `|` or SQL
    * `||` is never stripped again, however deeply builders nest. Escapes
    * are processed as by `s"…"`. */
  implicit final class SqlInterpolator(private val sc: StringContext) extends AnyVal {
    def sql(args: Any*): Sql = {
      sc.checkLengths(args)
      val parts = sc.parts.map(StringContext.processEscapes)
      val later = parts.tail.map(p => p.indexOf('\n') match {
        case -1 => p
        case i => p.substring(0, i + 1) + dropMargins(p.substring(i + 1))
      })
      new Sql(args.zip(later).foldLeft(dropMargins(parts.head)) { case (t, (a, p)) => t + a + p })
    }
  }

  /** Each line of `p` without its leading blanks and `|` margin bar, if
    * it has one. */
  private def dropMargins(p: String): String =
    p.linesWithSeparators.map { line =>
      val i = line.indexWhere(_ > ' ')
      if (i >= 0 && line.charAt(i) == '|') line.substring(i + 1) else line
    }.mkString
}
