package graft

/** Opt-in decision logging on stderr, one `[tag] message` line per
  * runtime decision. On when `-Dgraft.verbose=true` or `GRAFT_VERBOSE=1`
  * (read once, here, for every component that logs). */
object Verbose {

  private val on: Boolean =
    sys.props.get("graft.verbose").contains("true") ||
      sys.env.get("GRAFT_VERBOSE").contains("1")

  def log(tag: String)(msg: => String): Unit =
    if (on) System.err.println(s"[$tag] $msg")
}
