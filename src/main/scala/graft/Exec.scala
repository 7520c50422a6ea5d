package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Execution helpers shared across operators. */
object Exec {

  /** Materialize a small, multiply-read intermediate into executor storage.
    *
    * persist(MEMORY_AND_DISK) + an eager count: downstream branches share one
    * computation (the reuse an eager localCheckpoint would provide) while the
    * lineage stays intact — an executor loss recomputes the lost partitions
    * from source instead of failing the job on a missing unreplicated
    * checkpoint block, which is the fault-tolerance story a 1000-executor run
    * needs. The tradeoff: the retained lineage can be recomputed, so a lost
    * block costs a partial re-run rather than nothing; for multi-hour
    * pipelines that want loss-proof cut points, write the intermediate to a
    * table instead. Callers are responsible for the frame being small
    * relative to its inputs (candidate sets, signatures, bounded vector
    * frames).
    */
  def materialize(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** [[materialize]] WITHOUT CacheManager registration (eager
    * localCheckpoint): the blocks live until the frame is GC'd, but the
    * plan can never be cache-MATCHED by a later structurally-identical
    * query. Required when the plan reads paths that are rewritten out of
    * band (streaming state dirs): a later derivation matching the earlier
    * entry would chase the previous write's part files
    * (StreamingSpec's replay case).
    */
  def materializeLocal(df: DataFrame): DataFrame = df.localCheckpoint()

  private lazy val refCleaner = java.lang.ref.Cleaner.create()

  /** Tie an operator-internal persisted frame's lifetime to the result frame
    * handed to the caller: when the caller's last reference to `result` is
    * GC'd, `internal` is unpersisted (non-blocking), so repeated calls in a
    * long-lived session cannot accumulate storage blocks (CacheManager holds
    * cached plans strongly — without this, only an explicit unpersist ever
    * frees them). Safe by Spark's own cache contract: caches are advisory
    * (eviction and executor loss already recompute), so an early release
    * can only cost a recompute, never correctness.
    */
  def releaseOnUnreachable(result: DataFrame, internal: DataFrame): DataFrame = {
    refCleaner.register(result,
      () => try { internal.unpersist(blocking = false); () }
            catch { case _: Throwable => () })
    result
  }

  /** Recursive local-path copy (overwrites `dst`) — snapshot a maintained
    * state dir so a destructive operation (compaction, executor runs) can
    * act on a private copy while shared read-only consumers keep their
    * original. Local-FS rendering of a cheap table-format CLONE. A `src`
    * that is a [[StateCommit]] link copies what it serves; links inside
    * it are copied as links (their targets are relative siblings, copied
    * too).
    */
  def copyPath(src: String, dst: String): Unit = {
    deletePath(dst)
    if (!Files.exists(Paths.get(src))) return
    val sp = Paths.get(src).toRealPath()
    val dp = Paths.get(dst)
    val it = Files.walk(sp)
    try it.forEach { p =>
      val t = dp.resolve(sp.relativize(p))
      if (Files.isSymbolicLink(p))
        Files.createSymbolicLink(t, Files.readSymbolicLink(p))
      else if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
      ()
    } finally it.close()
  }

  /** Per-stage wall-clock attribution to stderr —
    * `[stage] name 1.23s self 0.45s`. Always on: the lines ride the
    * driver's kept log, so a gate whose cost blows up only in the driver's
    * environment (round 14's s_curate, 10.7 s builder vs 93.5 s driver,
    * one opaque number) is diagnosable from the driver's own run instead
    * of needing a local reproduction. Cost when unwatched: one nanoTime
    * pair + one stderr line per stage — noise-free against multi-second
    * stages.
    *
    * Stages nest (a fixture's build calls the fixtures it needs), so the
    * total counts its children; `self` is the total less the stages run
    * inside it on the same thread, and the self times of a run's lines sum
    * to its staged time without double counting.
    */
  def stage[T](name: String)(body: => T): T = {
    val nested = nestedNs.get
    val outer = nested(0)
    nested(0) = 0L
    val t0 = System.nanoTime()
    try {
      val r = body
      val total = System.nanoTime() - t0
      System.err.println(
        f"[stage] $name ${total / 1e9}%.2fs self ${(total - nested(0)) / 1e9}%.2fs")
      r
    } finally nested(0) = outer + (System.nanoTime() - t0)
  }

  /** Time spent in stages nested in this thread's current stage, in ns. */
  private val nestedNs = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Most bodies one [[inParallel]] call runs at once. A few overlapping
    * Spark actions fill the executors' idle gaps; more only queue in the
    * scheduler, while each holds a thread of its own, and calls can nest.
    */
  val MaxParallel = 8

  /** Run independent Spark actions concurrently (optimization guide §2.6:
    * the scheduler happily overlaps jobs; actions are only sequential
    * because driver code calls them sequentially). For state construction
    * whose steps write DISJOINT dirs (per-batch `b<g>/` dirs, two legs'
    * separate states), ordering is irrelevant to the bytes produced — each
    * dir is byte-identical either way — so the only effect is wall clock:
    * one step's task tail no longer leaves the executors idle while the
    * next independent step waits. At most [[MaxParallel]] bodies run at
    * once. All bodies are awaited (even on failure) before the first error
    * is rethrown, so no caller ever observes a write still in flight. An
    * interrupted caller cancels the bodies, waits for the running ones to
    * stop, then rethrows the InterruptedException with its interrupt flag
    * set again.
    */
  def inParallel(bodies: (() => Unit)*): Unit = {
    import java.util.concurrent._
    if (bodies.sizeIs <= 1) { bodies.foreach(_()); return }
    val pool = Executors.newFixedThreadPool(math.min(bodies.size, MaxParallel))
    val futures = bodies.map(b => pool.submit(new Callable[Unit] {
      def call(): Unit = b()
    }))
    pool.shutdown()
    val errs =
      try futures.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: ExecutionException => Option(e.getCause).orElse(Some(e))
        }
      }
      catch {
        case e: InterruptedException =>
          futures.foreach(_.cancel(true))
          while (!pool.isTerminated)
            try pool.awaitTermination(1, TimeUnit.SECONDS)
            catch { case _: InterruptedException => () }
          Thread.currentThread().interrupt()
          throw e
      }
    errs.headOption.foreach(e => throw e)
  }

  /** Recursive local-path delete: [[StateCommit.delete]] (links are not
    * followed; a committed name goes with its versions and temps). */
  def deletePath(path: String): Unit = StateCommit.delete(path)
}
