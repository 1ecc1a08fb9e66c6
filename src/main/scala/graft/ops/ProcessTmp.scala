package graft.ops

import java.util.concurrent.ConcurrentHashMap

/** Per-process temp directories for operators that materialize local state
  * (the embedded Derby db, bucketed external-table data, index and shard
  * artifacts): unique per JVM pid so concurrent sbt sessions never contend,
  * and removed by a shutdown hook so a long-lived box doesn't accumulate one
  * directory per Verify/Bench run. The directory is memoized per prefix, so
  * a prefix registers one hook however often it is asked for.
  */
object ProcessTmp {
  private val dirs = new ConcurrentHashMap[String, String]()

  /** `beforeDelete` runs inside the hook, before the recursive delete —
    * Java runs shutdown hooks CONCURRENTLY, so a subsystem that owns state
    * under the directory (the embedded Derby engine) must be quiesced here
    * rather than trusted to have exited first; deleting a live db risks a
    * partial removal and exit-time errors. Only the first call's
    * `beforeDelete` for a prefix is kept.
    */
  def dir(prefix: String, beforeDelete: () => Unit = () => ()): String =
    dirs.computeIfAbsent(prefix, _ => {
      val path = java.nio.file.Path.of(
        sys.props("java.io.tmpdir"), s"${prefix}_${ProcessHandle.current().pid()}")
      sys.addShutdownHook {
        try beforeDelete() catch { case _: Throwable => () }
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(path.toFile)
      }
      path.toString
    })
}
