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
  * SparkSession, only ScratchDirs names the scratch roots, only Tables
  * registers the fixture views, and no operator file holds a second copy
  * of a SQL text.
  */
class ScratchPathHygieneSpec extends AnyFunSuite {

  private val forbidden = Seq("graft_io", "graft-memo", "/dev/shm", "/tmp/graft")

  /** (file name, text) of every Scala source under `dir`. */
  private def sources(dir: String): Seq[(String, String)] = {
    val root = new java.io.File(sys.props.getOrElse("user.dir", "."), dir)
    assume(root.isDirectory, s"sources not at $root — packaged run, skipping")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map(f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** "<file>:<line> contains '<literal>'" for each literal a source under
    * `dir` mentions, skipping the files in `owners`. */
  private def offenders(dir: String, literals: Seq[String],
      owners: Set[String]): Seq[String] =
    sources(dir).filterNot { case (name, _) => owners(name) }.flatMap { case (name, text) =>
      literals.collect {
        case lit if text.contains(lit) =>
          val line = text.linesIterator.zipWithIndex
            .collectFirst { case (l, i) if l.contains(lit) => i + 1 }.getOrElse(-1)
          s"$name:$line contains '$lit'"
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

  test("only Tables registers the fixture views in the main sources") {
    val found = offenders("src/main/scala", Seq("registerAll"), Set("Tables.scala"))
    assert(found.isEmpty,
      "SQL-form queries must run through Tables.sql, never register the " +
        "views themselves:\n  " + found.mkString("\n  "))
  }

  test("no multi-line string literal appears twice under graft/operators") {
    // a SQL text that both engines run belongs in one id → text table;
    // two byte-equal copies are two places to edit and drift apart
    val literal = "(?s)\"\"\"(.*?)\"\"\"".r
    val copies = sources("src/main/scala/graft/operators").flatMap { case (name, text) =>
      literal.findAllMatchIn(text).map(_.group(1)).filter(_.contains('\n')).map(_ -> name)
    }
    val twice = copies.groupBy(_._1).values.filter(_.size > 1)
      .map(c => c.map(_._2).mkString(", ") + ": " + c.head._1.linesIterator.next().trim)
    assert(twice.isEmpty,
      s"${twice.size} SQL texts are written twice:\n  " + twice.toSeq.sorted.mkString("\n  "))
  }

  test("only ScratchDirs names the scratch roots in the main sources") {
    val found = offenders("src/main/scala", Seq("/dev/shm", "graft_io", "graft-memo"),
      Set("ScratchDirs.scala"))
    assert(found.isEmpty,
      "main sources must stage through ScratchDirs, never name its roots:\n  " +
        found.mkString("\n  "))
  }
}
