package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree hygiene: no `.scala` file may contain raw control
  * bytes. The round-10 regression class this pins: a literal NUL
  * typed where the `" "` ESCAPE was meant made one source file
  * binary to git — diffs unreadable, grep degraded, and the
  * text-based copy/leak scanners silently skipped exactly the file
  * defining the manifest path-space invariants.
  */
class RepoHygieneSpec extends AnyFunSuite {

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  test("no .scala source carries raw control bytes (tab/newline/CR " +
      "excepted) — control characters belong in escapes") {
    val offenders = walk(new java.io.File("src")).flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val bad = bytes.indexWhere(b =>
        b >= 0 && b < 0x20 && b != 0x09 && b != 0x0a && b != 0x0d)
      if (bad >= 0) Some(s"${f.getPath} (byte 0x${
        "%02x".format(bytes(bad))} at offset $bad)")
      else None
    }
    assert(offenders.isEmpty,
      s"source files with raw control bytes: ${offenders.mkString(", ")}" +
        " — spell them as escapes so the file stays text to " +
        "git/grep/scanners")
  }

  /** The round-12 regression class: an unquoted shell command turned
    * Scala/DESCRIBE output fragments ("string,", "versions.last,", …)
    * into zero-byte files at the repo root, and the end-of-round
    * snapshot commit swept them into history. Strays at the root are
    * never intentional here — the root holds only build/driver files.
    */
  test("repo root carries no zero-byte or comma-suffixed stray files") {
    val root = new java.io.File(".").getCanonicalFile
    val strays = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isFile)
      .filter(f => f.length == 0 || f.getName.endsWith(","))
      // derby.log is runtime debris the JDBC sink spec may leave while
      // the suite is mid-flight; it is gitignored, not committed.
      .filterNot(_.getName == "derby.log")
      .map(_.getName)
    assert(strays.isEmpty,
      s"stray root files (shell-quoting debris?): ${strays.mkString(", ")}")
  }

  /** Runnable mains are the engine's entry points, not scratch: a
    * one-off measurement belongs in the benchmark's traced run
    * (`graftbench/run.py --trace 1`), not in another probe `main`.
    */
  test("src/main defines exactly the kept entry-point mains") {
    val mains = walk(new java.io.File("src/main")).flatMap { f =>
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      """def main\(""".r.findAllMatchIn(text).map { m =>
        """object\s+(\w+)""".r.findAllMatchIn(text.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse(f.getName)
      }
    }.toSet
    assert(mains == Set("Bench", "Verify", "PlanStats", "RetryDemo",
      "ScaleProbe", "LakeProbe"))
  }
}
