package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** One way to fence: library code materialises through
  * `graft.core.Fence`, never a raw `localCheckpoint`, so every eager
  * checkpoint is named, counted and stripped of origin constraints. */
class FenceGuardSpec extends AnyFunSuite {

  /** Files allowed to call `localCheckpoint` directly, with the reason. */
  private val exempt = Map(
    "Bench.scala" -> "its timing loop is frozen: the bench harness must not change",
    "SparkEntry.scala" -> "it holds query compositions, not library code")

  test("no library file calls .localCheckpoint( outside the fence") {
    val root = new File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scala(d: File): Seq[File] = d.listFiles.toSeq.flatMap { f =>
      if (f.isDirectory) scala(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val offenders = for {
      f <- scala(root) if !exempt.contains(f.getName)
      (line, n) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }.zipWithIndex if line.contains(".localCheckpoint(")
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "fence through graft.core.Fence instead:\n" + offenders.mkString("\n"))
  }
}
