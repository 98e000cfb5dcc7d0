package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level staging-path hygiene (VERDICT r14 task 2): the round-14
  * `sink_zorder` false-green happened because a TEST rebuilt an operator's
  * scratch path by string concatenation — when the operator's real path
  * moved (per-JVM isolation), the test kept reading a STALE artifact that
  * happened to survive on tmpfs, and "sbt test green" stopped meaning
  * anything for that gate.
  *
  * This spec makes the defect class unwriteable: no test source may
  * mention the scratch/memo base literals at all. The sanctioned
  * accessors are `SourcesSinks.scratchFor(dir, op)` (sink staging) and
  * `MemoFrames.jvmBaseDir` (memo artifacts) — both resolve the REAL
  * per-JVM path the operator used. A grep-level check is deliberate: it
  * catches the concatenation even when the resulting path is never read,
  * and it needs no classpath tricks.
  *
  * The same grep keeps the main sources from drifting back into private
  * copies of a decision that has one owner: only GraftSession builds a
  * SparkSession, and only ScratchDirs names the scratch roots.
  */
class ScratchPathHygieneSpec extends AnyFunSuite {

  private val forbidden = Seq("graft_io", "graft-memo", "/dev/shm", "/tmp/graft")

  /** "<file>:<line> contains '<literal>'" for each literal a source under
    * `dir` mentions, skipping the files in `owners`. */
  private def offenders(dir: String, literals: Seq[String],
      owners: Set[String]): Seq[String] = {
    val root = new java.io.File(sys.props.getOrElse("user.dir", "."), dir)
    assume(root.isDirectory, s"sources not at $root — packaged run, skipping")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).filterNot(f => owners(f.getName)).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      literals.collect {
        case lit if text.contains(lit) =>
          val line = text.linesIterator.zipWithIndex
            .collectFirst { case (l, i) if l.contains(lit) => i + 1 }.getOrElse(-1)
          s"${f.getName}:$line contains '$lit'"
      }
    }
  }

  test("no test source hand-builds a scratch/memo staging path") {
    // this file holds the literals above
    val found = offenders("src/test/scala", forbidden, Set("ScratchPathHygieneSpec.scala"))
    assert(found.isEmpty,
      "test sources must locate staging through SourcesSinks.scratchFor / " +
        "MemoFrames.jvmBaseDir, never by rebuilding the path:\n  " +
        found.mkString("\n  "))
  }

  test("only GraftSession builds a SparkSession in the main sources") {
    val found = offenders("src/main/scala", Seq("SparkSession.builder"), Set("GraftSession.scala"))
    assert(found.isEmpty,
      "main sources must build their session with GraftSession.builder:\n  " +
        found.mkString("\n  "))
  }

  test("only ScratchDirs names the scratch roots in the main sources") {
    val found = offenders("src/main/scala", Seq("/dev/shm", "graft_io", "graft-memo"),
      Set("ScratchDirs.scala"))
    assert(found.isEmpty,
      "main sources must stage through ScratchDirs, never name its roots:\n  " +
        found.mkString("\n  "))
  }
}
