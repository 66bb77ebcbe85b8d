package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The one crash-safe commit of a directory: the BAG table snapshots and
  * the streaming state (§7.4.3; the reference commits each table's merge
  * in one transaction, bagh/batch.py:111-131).
  *
  * A commit of `dir` writes `<dir>.staging`, seals it with a marker file,
  * demotes the live `<dir>` to `<dir>.old` and promotes the staging. The
  * seal is the one bit that tells a complete staged version from a writer
  * that died mid-write. [[current]] heals whatever a crash left: a sealed
  * staging with no live version (the crash fell between the two moves) is
  * rolled forward; any other staging is discarded, so the interrupted
  * commit replays from the live version. The seal is removed once the
  * staging is live, so a committed directory holds only what was written.
  */
object DirCommit {

  private val Seal = "_GRAFT_COMMIT_READY"

  /** Heals an interrupted commit of `dir`, then says whether a committed
    * version exists. */
  def current(dir: String): Boolean = {
    val live = Paths.get(dir)
    val staging = Paths.get(dir + ".staging")
    if (Files.exists(staging)) {
      if (!Files.exists(live) && Files.exists(staging.resolve(Seal)))
        Files.move(staging, live, StandardCopyOption.ATOMIC_MOVE)
      else deleteTree(staging)
    }
    Files.deleteIfExists(live.resolve(Seal))
    Files.exists(live)
  }

  /** Commits what `write` puts into the staging directory it is given as
    * the new version of `dir`. */
  def commit(dir: String)(write: String => Unit): Unit = {
    current(dir)
    val live = Paths.get(dir)
    val staging = dir + ".staging"
    write(staging)
    Files.createFile(Paths.get(staging).resolve(Seal))
    if (Files.exists(live)) {
      val old = Paths.get(dir + ".old")
      deleteTree(old)
      Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    }
    current(dir) // the roll-forward a restart would do promotes the seal
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
}
