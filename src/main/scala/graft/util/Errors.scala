package graft.util

/** One-line failure text for logs and tool replies: the exception's
  * class and the first line of its message, never a stack trace.
  */
object Errors {
  def brief(e: Throwable): String =
    e.getClass.getSimpleName +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).fold("")(": " + _)
}
