package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ScratchDirs

/** The one scratch-dir reap rule: a dir under a scratch root is deleted
  * only when it is older than the cutoff AND its owner is provably gone —
  * a dead pid for `jvm_<pid>_<suffix>`, a free `dbex.lck` for `derby_*`.
  * Names the engine does not create are never touched. */
class ScratchDirsSpec extends AnyFunSuite {

  private val old = 2 * ScratchDirs.CutoffMs
  private def cutoff = System.currentTimeMillis() - ScratchDirs.CutoffMs

  private def withRoot(body: java.io.File => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_sweep_").toFile
    try body(root) finally ScratchDirs.deleteRecursively(root)
  }

  private def mk(root: java.io.File, name: String, ageMs: Long,
      withLck: Boolean = false): java.io.File = {
    val d = new java.io.File(root, name); d.mkdirs()
    if (withLck) {
      val lck = new java.io.File(d, "dbex.lck")
      java.nio.file.Files.write(lck.toPath, Array[Byte](1))
      lck.setLastModified(System.currentTimeMillis() - ageMs)
    }
    d.setLastModified(System.currentTimeMillis() - ageMs)
    d
  }

  /** The pid of a process that has already exited. */
  private lazy val deadPid: Long = {
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val pid = p.pid()
    assume(!ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false),
      s"pid $pid was reused")
    pid
  }

  test("stale-dir sweep reaps dead dirs, keeps young and lock-held ones") {
    withRoot { root =>
      val dead = mk(root, "derby_dead1", old, withLck = true) // old, unlocked
      val bare = mk(root, "derby_dead2", old)                 // old, no lck
      val young = mk(root, "derby_young", 1000)               // too recent
      val other = mk(root, "not_derby", old)                  // foreign name
      // simulate a LIVE owner: hold an exclusive FileLock on dbex.lck
      val live = mk(root, "derby_live", old, withLck = true)
      val ch = java.nio.channels.FileChannel.open(
        new java.io.File(live, "dbex.lck").toPath,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = ch.lock()
      try ScratchDirs.reap(root, cutoff)
      finally { lock.release(); ch.close() }
      assert(!dead.exists, "old unlocked dir must be reaped")
      assert(!bare.exists, "old lck-less dir must be reaped")
      assert(young.exists, "young dir must survive the age gate")
      assert(other.exists, "foreign names are never touched")
      assert(live.exists, "a lock-held dir must survive even when old")
      ScratchDirs.reap(root, System.currentTimeMillis() + 10000)
      assert(!live.exists, "released lock -> reapable (proves the probe, not the age, protected it)")
    }
  }

  test("jvm dirs: a live pid keeps an old dir, a dead pid's dir is reaped") {
    withRoot { root =>
      val me = ProcessHandle.current().pid()
      val live = mk(root, s"jvm_${me}_x", old)
      val dead = mk(root, s"jvm_${deadPid}_x", old)
      val deadYoung = mk(root, s"jvm_${deadPid}_y", 1000)
      ScratchDirs.reap(root, cutoff)
      assert(live.exists, "an old dir of a live pid must survive")
      assert(!dead.exists, "an old dir of a dead pid must be reaped")
      assert(deadYoung.exists, "a dead pid's young dir must survive the age gate")
    }
  }

  test("a two-segment jvm_<digits> name is judged by age, never as a pid") {
    withRoot { root =>
      // the digits are this live JVM's pid: parsed as a pid, the dir
      // would be kept forever
      val me = ProcessHandle.current().pid()
      val legacyOld = mk(root, s"jvm_$me", old)
      val legacyYoung = mk(root, s"jvm_${me + 1}", 1000)
      ScratchDirs.reap(root, cutoff)
      assert(!legacyOld.exists, "an old two-segment dir falls to the age gate")
      assert(legacyYoung.exists, "a young two-segment dir survives the age gate")
    }
  }
}
