package graft.ops

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source guards over `src/main`. [[Checkpoints]] stays the only
  * pinning path: main sources may call `localCheckpoint` nowhere else,
  * so every pin has a release handle. And [[TxTable]]'s optimistic
  * commit loop stays one helper: no hand-rolled retry loop, no retry
  * budget parameter, no log CAS outside it. */
class PinSourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("localCheckpoint appears in src/main only inside Checkpoints.scala") {
    val root = new File("src/main")
    val files = scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val allowed = new File(root, "scala/graft/ops/Checkpoints.scala")
      .getCanonicalFile
    val hits = files.filterNot(_.getCanonicalFile == allowed).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(".localCheckpoint(") =>
          s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    assert(hits.isEmpty, s"raw localCheckpoint outside Checkpoints: $hits")
  }

  test("TxTable commits only through its optimistic-commit helper") {
    val root = new File("src/main")
    val txTable = new File(root, "scala/graft/ops/TxTable.scala")
      .getCanonicalFile
    assert(txTable.isFile, s"missing $txTable")
    // the members a log CAS may appear in: its definition, the loop
    // helper, and the two single-shot version-0 commits
    val casMembers = Set("tryCommit", "optimistic", "convertInPlace",
      "cloneTo")
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    val hits = scalaFiles(root).flatMap { f =>
      val isTx = f.getCanonicalFile == txTable
      val src = Source.fromFile(f, "UTF-8")
      try {
        var owner = ""
        src.getLines().zipWithIndex.flatMap { case (line, i) =>
          line match {
            case member(name) => owner = name
            case _ =>
          }
          val at = s"${f.getPath}:${i + 1}"
          Seq(
            line.contains("maxRetries") -> s"$at maxRetries",
            (isTx && line.contains("var attempt")) -> s"$at var attempt",
            (line.contains("tryCommit(") &&
              !(isTx && casMembers(owner))) -> s"$at tryCommit in $owner"
          ).collect { case (true, hit) => hit }
        }.toList
      } finally src.close()
    }
    assert(hits.isEmpty, s"commit protocol outside its helper: $hits")
  }
}
