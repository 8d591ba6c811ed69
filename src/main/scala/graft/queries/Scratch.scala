package graft.queries

/** Per-process scratch dir for queries that persist mutable state
  * (streaming replay state, trained index round-trips). Keyed by PID so
  * two harness processes on one checkout (bench and correctness running
  * concurrently) can never race on seed/reset of the same dir.
  *
  * Hygiene: this process's dirs are deleted by a shutdown hook, and
  * the first call also reaps dirs left by DEAD pids (kill -9'd or
  * crashed harnesses can't run their own hooks — without the reap,
  * `target/` accumulates hundreds of orphaned state dirs).
  */
private[queries] object Scratch {
  private val createdScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(); ()
  }

  private lazy val scratchInit: Unit = {
    val pidPat = """.*_pid(\d+)$""".r
    Option(new java.io.File("target").listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        f.getName match {
          case pidPat(p) if f.isDirectory &&
              p.toLong != ProcessHandle.current().pid() && {
                val h = ProcessHandle.of(p.toLong)
                !(h.isPresent && h.get.isAlive)
              } =>
            deleteRec(f)
          case _ => ()
        }
      }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdScratch.forEach(d => deleteRec(new java.io.File(d)))))
  }

  /** `target/<kind>_<sf dir name>_pid<pid>`, removed when the JVM exits. */
  def dir(kind: String, sfDir: String): String = {
    scratchInit
    val d =
      s"target/${kind}_${new java.io.File(sfDir).getName}_pid${ProcessHandle.current().pid()}"
    createdScratch.add(d)
    d
  }
}
