package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every read of an index component on one path: no operator source
  * but IndexLayout.scala calls `spark.read`, so each read lists its dirs on
  * the driver and splits its scan by bytes (`IndexLayout.readDirs`).
  */
class IndexReadLintSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft/operators")

  test("only IndexLayout.scala calls spark.read under graft/operators") {
    assert(root.isDirectory, s"run from the repository root: no ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    val hits = walk(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "IndexLayout.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (l, i) if l.contains("spark.read") => s"${f.getPath}:${i + 1}: ${l.trim}"
        }.toList
        finally src.close()
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
