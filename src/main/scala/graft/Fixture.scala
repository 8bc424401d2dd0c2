package graft

import org.apache.spark.sql.SparkSession

/** Build-once fixtures for the query catalog ([[SparkEntry]]): persisted
  * indexes, lifecycle traces and table handles that every call of a query
  * reuses, so a timed attempt measures the query and not its set-up.
  *
  * A fixture is keyed by (session, name, sf dir) — a DataFrame or an index
  * handle belongs to the session that made it. Its build runs exactly once
  * per key, in one directory of its own that is empty when the build
  * starts. A build that throws caches nothing; the next call runs it again
  * in a new empty directory, so no build ever resumes half-written state.
  * A build may call other fixtures: it runs under its own key's lock, never
  * inside an update of the shared map.
  */
private[graft] object Fixture {

  /** One key's value, set once by the first build that returns. */
  private final class Once { var value: Option[Any] = None }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Once]

  private val builds = new java.util.concurrent.atomic.AtomicLong

  def memo[T](name: String, s: SparkSession, sfDir: String)(build: String => T): T = {
    val once = entries.computeIfAbsent((s, name, sfDir), _ => new Once)
    once.synchronized {
      once.value.getOrElse {
        val v = build(emptyDir(name))
        once.value = Some(v)
        v
      }.asInstanceOf[T]
    }
  }

  /** A new directory under this process's fixture root. Concurrently
    * running processes never share one, since the root carries the pid.
    */
  private def emptyDir(name: String): String = {
    val d = new java.io.File(root,
      s"${name.replaceAll("[^A-Za-z0-9._-]", "_")}-${builds.incrementAndGet()}")
    require(d.mkdirs(), s"fixture dir $d exists or cannot be created")
    d.getAbsolutePath
  }

  /** `graft_fixture_<pid>` in the temp dir. On first use it deletes the
    * fixture roots of processes that are gone, and a leftover under this
    * process's own pid (a dead process's, under a recycled pid), whose
    * indexes may be at an older layout version.
    */
  private lazy val root: java.io.File = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm); x.delete(); ()
    }
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_fixture_") &&
        f.getName.stripPrefix("graft_fixture_").toLongOption.exists(p =>
          p == pid || !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false)))
      .foreach(rm)
    new java.io.File(tmp, s"graft_fixture_$pid")
  }
}
