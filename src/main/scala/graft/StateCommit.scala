package graft

import java.io.{File, IOException}
import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import scala.util.matching.Regex

/** The one commit primitive of persisted state, and the only code that
  * renames or moves a path: the local-FS form of RecDB's one-transaction
  * retrain (recathon.c:961-1203) and of a table format's metadata swap. A
  * reader of a committed path sees the whole old version or the whole new
  * one, never a partial one and never none.
  *   - [[writeFile]]: a temp beside the file, renamed over it.
  *   - [[writeDir]]: the body writes the hidden `.<name>.tmp`. An absent
  *     name is published by one rename. An existing name becomes a symlink
  *     to a hidden version `.<name>.v<n>`, swapped by renaming a fresh link
  *     over it; the replaced version stays until the next commit (a grace
  *     for readers that resolved it), older ones are reaped. A plain dir is
  *     converted on its first swap: renamed aside as a version, then
  *     replaced by a link. A crash between those two renames leaves the
  *     name absent beside whole versions; [[live]], which every commit
  *     calls and a reader of a swapped name should call, links the newest.
  *   - [[delete]]: a name with its versions and temps.
  * One writer per name at a time; no fsync (durability is the file
  * system's).
  */
object StateCommit {

  /** Test seam: runs after each commit step with (path, step); a throw
    * there stands for a crash at that step. Production code never sets
    * it. */
  @volatile private[graft] var afterStep: (String, String) => Unit =
    (_, _) => ()

  /** Replace the file `path` with `bytes`: one temp write, one rename. */
  def writeFile(path: String, bytes: Array[Byte]): Unit = {
    val target = Paths.get(path).toAbsolutePath
    // per-thread temp: concurrent writers never share one
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${Thread.currentThread.getId}.tmp")
    try {
      Files.write(tmp, bytes)
      afterStep(path, "written")
      Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** Commit the directory `path` as `write` fills the temp dir it is
    * given; returns what `write` returns. */
  def writeDir[A](path: String)(write: String => A): A = {
    val live = Paths.get(path).toAbsolutePath
    val name = live.getFileName.toString
    Files.createDirectories(live.getParent)
    heal(live)
    val tmp = live.resolveSibling(s".$name.tmp")
    rm(tmp.toFile) // a crashed commit's body
    val out = write(tmp.toString)
    afterStep(path, "written")
    if (!present(live)) {
      Files.move(tmp, live, ATOMIC_MOVE)
      afterStep(path, "published")
    } else {
      val next = versions(live).lastOption.fold(1L)(_ + 1)
      val prev =
        if (Files.isSymbolicLink(live)) versionRe(name)
          .unapplySeq(Files.readSymbolicLink(live).toString).map(_.head.toLong)
        else {
          Files.move(live, version(live, next), ATOMIC_MOVE)
          afterStep(path, "aside")
          Some(next)
        }
      // newer than the version it replaces and than any stray one
      val v = prev.fold(next)(p => math.max(p + 1, next))
      Files.move(tmp, version(live, v), ATOMIC_MOVE)
      afterStep(path, "versioned")
      link(live, v)
      afterStep(path, "linked")
      reap(live.getParent.toString, versionRe(name))(n =>
        n == v || prev.contains(n))
    }
    out
  }

  /** `path`, once a first swap a crash interrupted is finished: what a
    * reader of a name [[writeDir]] may swap reads. One stat when the name
    * is there. */
  def live(path: String): String = { heal(Paths.get(path).toAbsolutePath); path }

  /** The version `path` serves now, links resolved: a reader that reads
    * several files of one commit reads them all from here. */
  def resolve(path: String): String =
    Paths.get(live(path)).toRealPath().toString

  /** Delete `path`, links not followed, with its versions and temps. */
  def delete(path: String): Unit = {
    val f = new File(path).getAbsoluteFile
    rm(f)
    val sib = s"""\\Q.${f.getName}.\\E(v\\d+|tmp|\\d+\\.tmp|lnk)""".r
    Option(f.getParentFile.listFiles()).toSeq.flatten
      .filter(s => sib.matches(s.getName)).foreach(rm)
  }

  /** Delete the entries of `dir` that `version` matches (one group: the
    * version number) and whose number `keep` rejects; returns their paths.
    * The one version reaper: [[writeDir]]'s, the keep-two model dirs' and
    * the recommender views'. */
  def reap(dir: String, version: Regex)(keep: Long => Boolean): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.collect {
      case n @ version(v) if !keep(v.toLong) =>
        val p = new File(dir, n).getPath; delete(p); p
    }

  private def rm(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath) && f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private def present(p: Path) = Files.exists(p, LinkOption.NOFOLLOW_LINKS)

  private def versionRe(name: String) = s"""\\Q.$name.v\\E(\\d+)""".r

  private def version(live: Path, v: Long) =
    live.resolveSibling(s".${live.getFileName}.v$v")

  private def versions(live: Path): Seq[Long] = {
    val re = versionRe(live.getFileName.toString)
    Option(live.getParent.toFile.list()).toSeq.flatten
      .flatMap(re.unapplySeq(_).map(_.head.toLong)).sorted
  }

  /** Point `live` at version `v`: a fresh link, relative so that copies of
    * the parent stay whole, renamed over the name. */
  private def link(live: Path, v: Long): Unit = {
    val lnk = live.resolveSibling(s".${live.getFileName}.lnk")
    Files.deleteIfExists(lnk)
    Files.createSymbolicLink(lnk, version(live, v).getFileName)
    Files.move(lnk, live, ATOMIC_MOVE)
  }

  private def heal(live: Path): Unit =
    if (!present(live)) versions(live).lastOption.foreach { v =>
      // a concurrent healer may win the race for the link name
      try link(live, v)
      catch { case e: IOException => if (!present(live)) throw e }
    }
}
