package graft.ops

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Checkpoints]] the only pinning path: main sources may call
  * `localCheckpoint` nowhere else, so every pin has a release handle. */
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
}
