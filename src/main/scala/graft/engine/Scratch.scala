package graft.engine

/** Process-owned scratch dirs under `java.io.tmpdir`, named `<stem>_<pid>`:
  * the query gates' dirs in `graft.SparkEntry` and [[Durable]]'s
  * auto-provisioned checkpoint dir. Their owner deletes them in a shutdown
  * hook, which a SIGKILLed JVM never runs, so whoever provisions one first
  * sweeps the dirs of owners that are gone. */
private[graft] object Scratch {

  /** Delete `dir`; a failure is printed to stderr, not thrown (callers are
    * shutdown hooks and best-effort sweeps). */
  def delete(dir: java.io.File): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(dir)
    catch { case e: java.io.IOException =>
      System.err.println(s"graft: could not delete scratch dir $dir: $e") }

  /** Delete every `<stem>_<pid>` under `root` whose process is gone, plus a
    * bare `<stem>` (the layout before the pid suffix, which tracked no
    * owner). A live process's dir, this JVM's included, is never touched;
    * a dead owner whose pid number is in use again keeps its dir until a
    * later sweep. */
  def sweepDead(root: java.io.File, stem: String): Unit =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.getName.startsWith(stem) && (f.getName.drop(stem.length) match {
          case "" => true
          case s if s.startsWith("_") =>
            s.drop(1).toLongOption.exists(p => java.lang.ProcessHandle.of(p)
              .map[java.lang.Boolean](h => !h.isAlive).orElse(true))
          case _ => false
        })
      }
      .foreach(delete)
}
