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
  * registers the fixture views, no operator file holds a second copy
  * of a SQL text, only BlockedPairs writes a blocked self-join's pair
  * inequality, and only SourcesSinks lands partitioned parquet.
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

  /** `text` with comments and string-literal contents blanked (same
    * length, newlines kept), so a scan sees code only; with `strings`,
    * string literals are kept. */
  private def codeOnly(text: String, strings: Boolean = false): String = {
    val out = text.toCharArray
    var i = 0
    def blank(from: Int, until: Int): Unit =
      (from until math.min(until, out.length)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def fill(from: Int, until: Int): Unit =
      if (!strings) (from until until).foreach(k => if (out(k) != '\n') out(k) = '_')
    while (i < text.length) {
      if (text.startsWith("//", i)) {
        val e = text.indexOf('\n', i); val end = if (e < 0) text.length else e
        blank(i, end); i = end
      } else if (text.startsWith("/*", i)) {
        val end = text.indexOf("*/", i + 2) + 2; blank(i, end); i = end
      } else if (text.startsWith("\"\"\"", i)) {
        val end = text.indexOf("\"\"\"", i + 3); fill(i + 3, end); i = end + 3
      } else if (text(i) == '"') {
        var j = i + 1
        while (text(j) != '"') j += (if (text(j) == '\\') 2 else 1)
        fill(i + 1, j); i = j + 1
      } else if (text(i) == '\'' && i + 2 < text.length && text(i + 2) == '\'') {
        fill(i + 1, i + 2); i += 3
      } else if (text.startsWith("'\\", i) && i + 3 < text.length && text(i + 3) == '\'') {
        fill(i + 1, i + 3); i += 4
      } else i += 1
    }
    new String(out)
  }

  /** A `.join(`/`.crossJoin(` in main source `code` (as `codeOnly`
    * returns it) whose two sides are one frame, and whose condition, or
    * the `.filter`/`.where` chained on it, holds a top-level
    * column-vs-column `<`: "<file>:<def>" plus its line. */
  private case class SelfPair(site: String, line: Int, statesBound: Boolean)

  private def isId(c: Char) = c.isLetterOrDigit || c == '_'

  private def skipWs(code: String, i: Int, step: Int): Int = {
    var j = i; while (code(j).isWhitespace) j += step; j
  }

  /** The receiver chain of the call whose dot is at `dot` in `code`, read
    * backward: its segment names from the nearest call to the head, and
    * the head's position. */
  private def receiverChain(code: String, dot: Int): (Seq[String], Int) = {
    def openOf(cl: Int): Int = {
      var d = 0; var i = cl
      while ({ d += (code(i) match { case ')' => 1; case '(' => -1; case _ => 0 }); d > 0 }) i -= 1
      i
    }
    val segs = collection.mutable.ArrayBuffer.empty[String]
    var i = dot; var headPos = -1
    while (headPos < 0) {
      var j = skipWs(code, i - 1, -1)
      if (code(j) == ')') j = skipWs(code, openOf(j) - 1, -1)
      val e = j + 1; while (isId(code(j))) j -= 1
      segs += code.substring(j + 1, e)
      val b = skipWs(code, j, -1)
      if (code(b) == '.') i = b else headPos = j + 1
    }
    (segs.toSeq, headPos)
  }

  private def selfPairs(name: String, text: String): Seq[SelfPair] = {
    val code = codeOnly(text)
    def close(open: Int): Int = {
      var d = 0; var i = open
      while ({ d += (code(i) match { case '(' => 1; case ')' => -1; case _ => 0 }); d > 0 }) i += 1
      i
    }
    def skipWs(i: Int, step: Int): Int = ScratchPathHygieneSpec.this.skipWs(code, i, step)
    // a frame expression read forward from `from`: its head (an object's
    // head keeps its first member) and whether its chain joins another frame
    def forward(from: Int, until: Int): (String, Boolean) = {
      var i = skipWs(from, 1)
      if (code.startsWith("broadcast(", i)) i = skipWs(i + "broadcast(".length, 1)
      val segs = collection.mutable.ArrayBuffer.empty[String]
      var go = true
      while (go && i < until) {
        val s = i; while (i < until && isId(code(i))) i += 1
        segs += code.substring(s, i)
        if (i < until && code(i) == '(') i = close(i) + 1
        val n = skipWs(i, 1)
        if (n < until && code(n) == '.') i = n + 1 else go = false
      }
      (head(segs.toSeq), segs.drop(1).exists(_.toLowerCase.contains("join")))
    }
    def head(segs: Seq[String]): String =
      if (segs.size > 1 && segs.head.headOption.exists(_.isUpper)) segs.take(2).mkString(".")
      else segs.headOption.getOrElse("")
    // the frames `name` stands for at `pos`, through the file's vals
    def frames(name: String, pos: Int): List[String] = {
      val defs = s"\\bval\\s+$name\\s*=".r.findAllMatchIn(code).filter(_.start < pos).toSeq
      defs.lastOption match {
        case Some(m) =>
          val (h, joined) = forward(m.end, code.length)
          if (joined || h == name) List(name) else name :: frames(h, m.start)
        case None => List(name)
      }
    }
    val lt = "col\\(\"_*\"\\)\\s*<\\s*col\\(\"_*\"\\)".r
    // top-level (paren depth 0 in the span) comparisons of two bare columns
    def pairInequality(from: Int, until: Int): Boolean =
      lt.findAllMatchIn(code.substring(from, until)).exists { m =>
        val before = code.substring(from, from + m.start)
        val next = code.substring(from + m.end, until).dropWhile(_.isWhitespace)
        before.count(_ == '(') == before.count(_ == ')') &&
          !next.headOption.exists("+-*/.".contains(_))
      }
    "\\.(join|crossJoin)\\(".r.findAllMatchIn(code).flatMap { m =>
      val open = m.end - 1
      val cl = close(open)
      // receiver chain, read backward from the dot
      val (segs, headPos) = receiverChain(code, m.start)
      val recvJoined = segs.init.exists(_.toLowerCase.contains("join"))
      val seg = segs.last
      val rest = code.substring(headPos + seg.length).dropWhile(_.isWhitespace)
      val next = if (rest.startsWith(".")) rest.drop(1).takeWhile(isId(_)) else ""
      val recvHead = if (seg.headOption.exists(_.isUpper) && next.nonEmpty) s"$seg.$next" else seg
      // the right side ends at the first top-level comma of the arguments
      var k = open + 1; var d = 0
      while (k < cl && !(d == 0 && code(k) == ',')) {
        d += (code(k) match { case '(' => 1; case ')' => -1; case _ => 0 }); k += 1
      }
      val (argHead, argJoined) = forward(open + 1, k)
      val after = skipWs(cl + 1, 1)
      val filter =
        if (code.startsWith(".filter(", after) || code.startsWith(".where(", after)) {
          val o = code.indexOf('(', after); Some((o + 1, close(o)))
        } else None
      val self = recvHead.nonEmpty && argHead.nonEmpty && !recvJoined && !argJoined &&
        frames(recvHead, headPos).intersect(frames(argHead, headPos)).nonEmpty
      if (self && (pairInequality(k, cl) || filter.exists { case (f, e) => pairInequality(f, e) })) {
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        val headLine = code.substring(0, headPos).count(_ == '\n')
        val enclosing = "(?m)^  (?:\\S+ )*?def\\s+(\\w+)".r.findAllMatchIn(code.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        val comment = text.linesIterator.toSeq.take(headLine).reverse
          .takeWhile(_.trim.startsWith("//")).mkString(" ")
        Some(SelfPair(s"$name:$enclosing", line, comment.contains("self-pair bound")))
      } else None
    }.toSeq
  }

  test("only BlockedPairs writes a blocked self-join's pair inequality") {
    // every other blocked self-join keeps its own bound, stated in a
    // "self-pair bound:" comment on the join: joinThetaBand explodes only
    // its left side into three size buckets, so candidates stay within a
    // constant factor of the output; aggKendall pairs 25 broadcast rows
    val allowed = Set("JoinsAdvanced.scala:joinThetaBand", "Aggregates.scala:aggKendall")
    val found = sources("src/main/scala").filterNot(_._1 == "BlockedPairs.scala")
      .flatMap { case (name, text) => selfPairs(name, text) }
    val outside = found.filterNot(p => allowed(p.site) && p.statesBound)
    assert(outside.isEmpty,
      s"${outside.size} blocked self-joins write their own pair inequality; " +
        "route them through BlockedPairs.selfPairs:\n  " +
        outside.map(p => s"${p.site} (line ${p.line})").mkString("\n  "))
    assert(allowed.subsetOf(found.map(_.site).toSet),
      s"an allowlisted site no longer self-joins; drop it from the list: ${found.map(_.site)}")
  }

  test("only SourcesSinks lands partitioned parquet") {
    // a writer's `.partitionBy(` (its receiver chain holds `.write`; a
    // `Window.partitionBy` does not) or a dynamic-overwrite option outside
    // SourcesSinks is a second copy of the loader's landing seam
    val found = sources("src/main/scala").filterNot(_._1 == "SourcesSinks.scala")
      .flatMap { case (name, text) =>
        val code = codeOnly(text)
        val writes = "\\.partitionBy\\(".r.findAllMatchIn(code).map(_.start)
          .filter(i => receiverChain(code, i)._1.exists(_.startsWith("write")))
        val modes = "partitionOverwriteMode".r.findAllMatchIn(codeOnly(text, strings = true))
          .map(_.start)
        (writes ++ modes).map(i => s"$name:${code.substring(0, i).count(_ == '\n') + 1}")
      }
    assert(found.isEmpty,
      "land partitioned parquet through SourcesSinks.landPartitioned or " +
        "loadIdempotent:\n  " + found.mkString("\n  "))
  }

  test("only ScratchDirs names the scratch roots in the main sources") {
    val found = offenders("src/main/scala", Seq("/dev/shm", "graft_io", "graft-memo"),
      Set("ScratchDirs.scala"))
    assert(found.isEmpty,
      "main sources must stage through ScratchDirs, never name its roots:\n  " +
        found.mkString("\n  "))
  }
}
