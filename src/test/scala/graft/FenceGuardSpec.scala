package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards over the library code. One way to fence: library
  * code materialises through `graft.core.Fence`, never a raw
  * `localCheckpoint`, so every eager checkpoint is named, counted and
  * stripped of origin constraints. And no new `graft.*` session conf:
  * small-input routes read the session's broadcast budget, so a
  * routing knob cannot land without changing this list. */
class FenceGuardSpec extends AnyFunSuite {

  /** Files allowed to call `localCheckpoint` directly, with the reason. */
  private val exempt = Map(
    "Bench.scala" -> "its timing loop is frozen: the bench harness must not change",
    "SparkEntry.scala" -> "it holds query compositions, not library code")

  /** The `graft.*` session confs library code may declare, with the
    * reason each is not the broadcast budget. */
  private val confs = Map(
    "graft.mmr.smallPoolRows" -> "bounds the driver CPU of an O(n·k²) greedy loop, not bytes",
    "graft.graph.validateCanonicalArtifact" -> "turns on an exact input check, not a route",
    "graft.graph.canonicalProbeLabels" -> "sizes an input probe, not a route")

  /** Every line of every Scala file under `src/main/scala/graft`, with
    * its file and 0-based line number. */
  private def libraryLines: Seq[(File, String, Int)] = {
    val root = new File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scala(d: File): Seq[File] = d.listFiles.toSeq.flatMap { f =>
      if (f.isDirectory) scala(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    for {
      f <- scala(root)
      (line, n) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }.zipWithIndex
    } yield (f, line, n)
  }

  test("no library file calls .localCheckpoint( outside the fence") {
    val offenders = for {
      (f, line, n) <- libraryLines
      if !exempt.contains(f.getName) && line.contains(".localCheckpoint(")
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "fence through graft.core.Fence instead:\n" + offenders.mkString("\n"))
  }

  test("library code declares no graft.* session conf beyond the listed ones") {
    val key = "\"(graft\\.[A-Za-z0-9_.]+)\"".r
    val declared = for {
      (f, line, n) <- libraryLines
      m <- key.findAllMatchIn(line)
    } yield m.group(1) -> s"${f.getPath}:${n + 1}"
    val extra = declared.filterNot { case (k, _) => confs.contains(k) }
    assert(extra.isEmpty, "a small-input route reads spark.sql.autoBroadcastJoinThreshold " +
      "through DataFrameOps.fitsBroadcastBudget, not a conf of its own:\n" +
      extra.map { case (k, at) => s"$at: $k" }.mkString("\n"))
    assert(declared.map(_._1).toSet == confs.keySet, s"declared: ${declared.mkString(", ")}")
  }
}
