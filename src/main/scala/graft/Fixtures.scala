package graft

import java.nio.file.Paths

/** Where the gates keep their per-run state, and how a gate fixture is
  * built once per run.
  *
  * Every gate, bench workload and persisted oracle artifact lives under
  * `<java.io.tmpdir>/<name>/<runKey>` ([[Tables.runKey]]: the sf-dir hash
  * and the pid). Concurrent runs, even at one scale factor, get disjoint
  * dirs, and a run's oracle-path substitution (same JVM) always matches
  * what its gates wrote. Nothing reaps these dirs: they are safe to delete
  * between runs.
  */
object Fixtures {

  /** The per-run dir of gate state `name` over the sf dir `d`. */
  def dir(name: String, d: String): String =
    Paths.get(sys.props("java.io.tmpdir"), name, Tables.runKey(d)).toString

  /** [[dir]], wiped first: for a gate that rebuilds its state per call. */
  def scratch(name: String, d: String): String = {
    val p = dir(name, d)
    Exec.deletePath(p)
    p
  }

  /** A fixture built at most once per (JVM, key), with
    * `computeIfAbsent`'s contract: concurrent callers of one key wait for
    * the one build, and a build that throws leaves no entry (the next call
    * builds again). Each fixture owns its map, so a build may call another
    * fixture (a shared map would throw `Recursive update`). Each build runs
    * under `Exec.stage("fixture <name>")`, so a run's log shows every
    * fixture it built, once per key.
    */
  final class Memo[K, V] private[Fixtures] (name: String) {
    private val built = new java.util.concurrent.ConcurrentHashMap[K, V]()

    def apply(key: K)(build: => V): V =
      built.computeIfAbsent(key, _ => Exec.stage(s"fixture $name")(build))
  }

  def memo[K, V](name: String): Memo[K, V] = new Memo[K, V](name)
}
