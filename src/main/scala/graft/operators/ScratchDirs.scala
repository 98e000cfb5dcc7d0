package graft.operators

import java.io.File

/** Where the engine stages files outside the repo, and the one rule that
  * reclaims what crashed JVMs left behind.
  *
  * Two shared roots live under the base: `graft_io` (sink staging,
  * streaming checkpoints, the embedded Derby databases) and `graft-memo`
  * (MemoFrames' parquet memos). Each JVM works in its own
  * `jvm_<pid>_<suffix>` dir under a root, so two live graft processes never
  * share a staging path, and deletes it on normal exit. The random suffix
  * keeps two JVMs of one pid across a fast restart apart.
  *
  * The first use of a root in a JVM reaps its stale siblings. A dir is
  * deleted only when it is older than `CutoffMs` AND its owner is provably
  * gone: a `jvm_<pid>_<suffix>` dir whose pid is dead, or a `derby_*`
  * database dir whose `dbex.lck` is not locked. Names this code does not
  * create are never touched.
  */
private[graft] object ScratchDirs {

  /** A dir left untouched this long may be reaped, if its owner is gone. */
  val CutoffMs: Long = 2L * 3600 * 1000

  /** tmpfs when `/dev/shm` is a writable directory: RAM-backed staging
    * keeps host-disk contention (±2–4 s per query measured on disk) out of
    * the engine's encode/decode work. Otherwise the JVM's temp dir. */
  private lazy val base: File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm else new File(sys.props("java.io.tmpdir"))
  }

  private def sweptRoot(name: String): File = {
    val root = new File(base, name)
    root.mkdirs()
    try reap(root, System.currentTimeMillis() - CutoffMs)
    catch { case _: Throwable => () } // best-effort: a failed sweep only leaks
    root
  }

  /** The shared io root; JdbcSink keeps its databases here. */
  lazy val ioRoot: File = sweptRoot("graft_io")
  private lazy val memoRoot: File = sweptRoot("graft-memo")

  /** This JVM's staging dir under the io root (SourcesSinks, streaming). */
  lazy val ioDir: File = jvmDir(ioRoot)

  /** This JVM's MemoFrames dir. */
  lazy val memoDir: File = jvmDir(memoRoot)

  private def jvmDir(root: File): File = {
    val d = java.nio.file.Files.createTempDirectory(
      root.toPath, s"jvm_${ProcessHandle.current().pid()}_").toFile
    sys.addShutdownHook(deleteRecursively(d))
    d
  }

  /** A fresh dir under this JVM's io dir; the caller deletes it when done,
    * and JVM exit or the reap rule collects it otherwise. */
  def tempDir(prefix: String): File =
    java.nio.file.Files.createTempDirectory(ioDir.toPath, prefix).toFile

  /** Liveness beacon: refresh a dir's mtime on use, so a live owner stays
    * behind the age gate even where its pid or lock cannot be checked. */
  def touch(dir: File): Unit = { dir.setLastModified(System.currentTimeMillis()); () }

  /** Delete the dirs under `root` that are older than `cutoffMs` and whose
    * owner is provably gone. */
  def reap(root: File, cutoffMs: Long): Unit = {
    val kids = root.listFiles()
    if (kids != null) kids
      .filter(d => d.isDirectory && d.lastModified < cutoffMs && ownerGone(d))
      .foreach(deleteRecursively)
  }

  private def ownerGone(d: File): Boolean = d.getName.split("_") match {
    case Array("jvm", pid, _, _*) if pid.nonEmpty && pid.forall(_.isDigit) =>
      !pid.toLongOption.exists(p => ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
    // a two-segment `jvm_<digits>` name predates the pid-suffix layout, and
    // its digits may be a random number rather than a pid: a live unrelated
    // process could match it and keep the dir forever, so age alone decides
    case Array("jvm", _*) => true
    case Array("derby", _*) => lockFree(new File(d, "dbex.lck"))
    case _ => false
  }

  /** Derby holds an exclusive FileLock on `dbex.lck` for as long as the
    * database is booted, so a successful `tryLock` proves no JVM has it
    * open. The lock is best-effort where FileLock is unsupported (NFS,
    * some container mounts); the roots here are local tmpfs or temp
    * dirs, and the owner's mtime beacon keeps a live database behind the
    * age gate as well. */
  private def lockFree(lck: File): Boolean =
    !lck.exists || (try {
      val ch = java.nio.channels.FileChannel.open(lck.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.tryLock()
        if (l != null) { l.release(); true } else false
      } finally ch.close()
    } catch { case _: Throwable => false }) // cannot prove it is dead: keep

  def deleteRecursively(f: File): Unit =
    try {
      val kids = f.listFiles(); if (kids != null) kids.foreach(deleteRecursively)
      f.delete(); ()
    } catch { case _: Throwable => () }
}
