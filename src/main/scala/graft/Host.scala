package graft

/** Resource defaults for the mains, derived from the host they run on. */
object Host {

  /** Local-mode core count (also the shuffle partition count):
    * `SPARK_GRAFT_CPUS` when set, otherwise every core the JVM sees.
    */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
