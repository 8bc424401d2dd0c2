package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every driver-versus-distributed bound in `graft.operators.Regime`:
  * no other main source names a `spark.graft.` session key, reads a JVM
  * system property other than a `java.*` one, or takes back a parameter
  * that forced a path around the session bounds.
  */
class RegimeLintSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  /** `(file, line number, line)` of every main source line but Regime.scala's. */
  private lazy val lines: Seq[(String, Int, String)] = {
    assert(root.isDirectory, s"run from the repository root: no ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(root).filter(f => f.getName.endsWith(".scala") && f.getName != "Regime.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.map { case (l, i) => (f.getPath, i + 1, l) }.toList
        finally src.close()
      }
  }

  private def offenders(bad: String => Boolean): Seq[String] =
    lines.collect { case (f, n, l) if bad(l) => s"$f:$n: ${l.trim}" }

  test("only Regime.scala declares a spark.graft session key") {
    val hits = offenders(_.contains("\"spark.graft."))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no main source reads a system property other than a java.* one") {
    val read = "(sys\\.props|System\\.getProperty)".r
    val hits = offenders(l => read.findFirstIn(l).isDefined && !l.contains("(\"java."))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no main source takes a parameter that forces a path around a Regime bound") {
    val removed = Seq("exactPairs", "forceExact", "stableOrder", "broadcastRight",
      "maxProbeRowsOverride")
    val hits = offenders(l => removed.exists(l.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
