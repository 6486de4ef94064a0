package graft.ops

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Source guards over `src/main`. [[Checkpoints]] stays the only
  * pinning path: main sources may call `localCheckpoint` nowhere else,
  * so every pin has a release handle. [[TxTable]]'s optimistic commit
  * loop stays one helper: no hand-rolled retry loop, no retry budget
  * parameter, no log CAS outside it. And its write side stays one
  * path each: one staging member, one stats-and-bloom mining, one
  * partition-path encoder/decoder pair, one compaction guard. Its
  * read side has one scan of its own parquet, and every footer it
  * opens takes the session's read options. */
class PinSourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private val txTable = new File("src/main/scala/graft/ops/TxTable.scala")

  /** `f`'s lines as (owning top-level member, line, line number). */
  private def ownedLines(f: File): List[(String, String, Int)] = {
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    val src = Source.fromFile(f, "UTF-8")
    try {
      var owner = ""
      src.getLines().zipWithIndex.map { case (line, i) =>
        line match {
          case member(name) => owner = name
          case _ =>
        }
        (owner, line, i + 1)
      }.toList
    } finally src.close()
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
    assert(txTable.isFile, s"missing ${txTable.getAbsolutePath}")
    // the members a log CAS may appear in: its definition, the loop
    // helper, and the two single-shot version-0 commits
    val casMembers = Set("tryCommit", "optimistic", "convertInPlace",
      "cloneTo")
    val hits = scalaFiles(root).flatMap { f =>
      val isTx = f.getCanonicalFile == txTable.getCanonicalFile
      ownedLines(f).flatMap { case (owner, line, n) =>
        val at = s"${f.getPath}:$n"
        Seq(
          line.contains("maxRetries") -> s"$at maxRetries",
          (isTx && line.contains("var attempt")) -> s"$at var attempt",
          (line.contains("tryCommit(") &&
            !(isTx && casMembers(owner))) -> s"$at tryCommit in $owner"
        ).collect { case (true, hit) => hit }
      }
    }
    assert(hits.isEmpty, s"commit protocol outside its helper: $hits")
  }

  test("TxTable stages, mines sidecars, spells partition paths and " +
      "guards compactions in one member each") {
    assert(txTable.isFile, s"missing ${txTable.getAbsolutePath}")
    // token -> the members it may appear in, its own definition
    // included; adopted files are mined for stats at convert time
    val owners = Map(
      "_staged-${" -> Set("stage"),
      "fileStats(" -> Set("stage", "fileStats", "convertInPlace"),
      "buildBlooms(" -> Set("stage", "buildBlooms"),
      "escapePathName" -> Set("partSegment", "partKey"),
      "rewritten concurrently" -> Set("compactGuard"),
      "deletion vector landed" -> Set("compactGuard"))
    val lines = ownedLines(txTable)
    val hits = lines.flatMap { case (owner, line, n) =>
      owners.collect { case (token, ok) if line.contains(token) &&
          !ok(owner) => s"$n: $token in $owner" }
    }
    assert(hits.isEmpty, s"write-side duplicate outside its member: $hits")
    val unused = owners.keys.filterNot(t => lines.exists(_._2.contains(t)))
    assert(unused.isEmpty, s"guard tokens no longer present: $unused")
    assert(!lines.exists(_._2.contains("stagePartitioned")))
  }

  test("TxTable reads its parquet through one scan and opens footers " +
      "with read options") {
    assert(txTable.isFile, s"missing ${txTable.getAbsolutePath}")
    // copyInto loads FOREIGN files, whose schema Spark must infer
    val readers = Set("scan", "copyInto")
    val withOptions = """ParquetFileReader\.open\([^(),]+,""".r
    val lines = ownedLines(txTable)
    val hits = lines.flatMap { case (owner, line, n) =>
      Seq(
        (line.contains("spark.read") && !readers(owner)) ->
          s"$n: spark.read in $owner",
        (line.contains("ParquetFileReader.open(") &&
          withOptions.findFirstIn(line).isEmpty) ->
          s"$n: ParquetFileReader.open without read options in $owner"
      ).collect { case (true, hit) => hit }
    }
    assert(hits.isEmpty, s"read-side duplicate or bare footer open: $hits")
    assert(lines.exists { case (o, l, _) => o == "scan" && l.contains("spark.read") })
    assert(lines.exists(_._2.contains("ParquetFileReader.open(")))
  }
}
