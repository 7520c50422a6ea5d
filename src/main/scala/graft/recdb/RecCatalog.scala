package graft.recdb

import java.nio.file.{Files, Path, Paths}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** One registered recommender — the union of the reference's
  * RecModelsCatalogue row (utility.c:886) and its per-recommender RecIndex
  * bookkeeping table (utility.c:916-921): model location(s), event total and
  * the update/query counters that drive incremental maintenance (R17/R18).
  */
final case class RecEntry(
    name: String,
    eventsTag: String,
    userCol: String,
    itemCol: String,
    ratingCol: String,
    method: RecMethod,
    modelPaths: Seq[String],
    eventTotal: Long,
    updateCounter: Long = 0L,
    queryCounter: Long = 0L,
    viewPath: Option[String] = None,
    // true when viewPath holds ALL (user, item) scores (no top-k cut), so
    // any RECOMMEND query can be served from it verbatim
    viewComplete: Boolean = false,
    // when viewPath holds a per-user top-k cut, the k that was materialized
    // (-1 = none). A point query asking for k' <= viewTopK is served from
    // the view; larger k' falls back to compute. This is the bounded
    // prediction cache the reference's RecView intended (utility.c:146-152)
    // — at scale the O(users×items) complete view cannot be materialized,
    // so the top-k view is THE serving artifact.
    viewTopK: Long = -1L,
    // bumps on every materializeView; the version is baked into viewPath so
    // a cached served-view frame can never alias a newer materialization
    viewVersion: Long = 0L,
    lastBatchId: Long = -1L,
    // corpus stats captured at CREATE time (-1 = unknown, pre-stats entry):
    // they make the scoring strategy pick job-free on the catalog-hit path
    nUsers: Long = -1L,
    nItems: Long = -1L,
    modelRows: Long = -1L,
    // the reference's dormant NBRHOOD knob (recathon.c:48) as a
    // per-recommender bound: when > 0, the persisted similarity model keeps
    // only each entity's `neighborhood` strongest neighbors (kNN-graph
    // sparsification), making user-based serving O(users×K). 0 = unbounded,
    // the reference's shipped default.
    neighborhood: Long = 0L) {

  /** Stats for [[Scoring]]'s strategy pick, when this entry carries them.
    * The dims orientation follows the method: item models span items,
    * user models span users.
    */
  def scoreStats: Option[Scoring.ScoreStats] =
    if (nUsers < 0 || nItems < 0 || modelRows < 0) None
    else Some(Scoring.ScoreStats(
      dims = if (RecMethod.isUserBased(method)) nUsers else nItems,
      items = nItems, users = nUsers, n = eventTotal, modelRows = modelRows))
}

/** The reference's RecDBProperties singleton row (utility.c:903-908),
  * created on first access with the shipped defaults (0.5, 0, true).
  * `update_threshold` is LIVE — the reference's getUpdateThreshold re-reads
  * the table on every maintenance check (recathon.c:908-948), and
  * [[IncrementalMaintainer]] does the same against this store.
  * `tail_length` and `verbose_queries` are persisted but consumed NOWHERE
  * in the reference (grep-verified vestigial); they round-trip here with
  * the same faithful vestigiality so a migrating user's property writes
  * keep working.
  */
final case class RecDbProperties(
    updateThreshold: Double = 0.5,
    tailLength: Int = 0,
    verboseQueries: Boolean = true)

/** File-backed catalog: one properties file per recommender under `dir`.
  * Replaces the reference's RecModelsCatalogue/RecIndex SQL tables
  * (SURVEY.md §1.1). Driver-side metadata only — never on the data path, so
  * a single small directory is correct at any data scale.
  */
final class RecCatalog(dirStr: String) {
  private val dir: Path = Paths.get(dirStr)
  Files.createDirectories(dir)

  private def file(name: String): Path = dir.resolve(s"$name.recommender")

  def get(name: String): Option[RecEntry] = {
    val f = file(name)
    if (!Files.exists(f)) None
    else {
      val p = new Properties()
      val in = Files.newInputStream(f)
      try p.load(in) finally in.close()
      Some(RecEntry(
        name = p.getProperty("name"),
        eventsTag = p.getProperty("eventsTag"),
        userCol = p.getProperty("userCol"),
        itemCol = p.getProperty("itemCol"),
        ratingCol = p.getProperty("ratingCol"),
        method = RecMethod.parse(p.getProperty("method")),
        modelPaths = p.getProperty("modelPaths", "").split(',').toSeq.filter(_.nonEmpty),
        eventTotal = p.getProperty("eventTotal", "0").toLong,
        updateCounter = p.getProperty("updateCounter", "0").toLong,
        queryCounter = p.getProperty("queryCounter", "0").toLong,
        viewPath = Option(p.getProperty("viewPath")).filter(_.nonEmpty),
        viewComplete = p.getProperty("viewComplete", "false").toBoolean,
        viewTopK = p.getProperty("viewTopK", "-1").toLong,
        viewVersion = p.getProperty("viewVersion", "0").toLong,
        lastBatchId = p.getProperty("lastBatchId", "-1").toLong,
        nUsers = p.getProperty("nUsers", "-1").toLong,
        nItems = p.getProperty("nItems", "-1").toLong,
        modelRows = p.getProperty("modelRows", "-1").toLong,
        neighborhood = p.getProperty("neighborhood", "0").toLong))
    }
  }

  def list(): Seq[RecEntry] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".recommender"))
      .map(f => get(f.getFileName.toString.stripSuffix(".recommender")).get)
      .toSeq.sortBy(_.name)
    finally stream.close()
  }

  /** (eventsTag, method) uniqueness mirrors the duplicate-pair error of
    * CREATE RECOMMENDER (recathon.c:832-844, SURVEY.md §2.3 #9).
    */
  def findByTagAndMethod(eventsTag: String, method: RecMethod): Option[RecEntry] =
    list().find(e => e.eventsTag == eventsTag && e.method == method)

  def put(e: RecEntry): Unit = {
    val p = new Properties()
    p.setProperty("name", e.name)
    p.setProperty("eventsTag", e.eventsTag)
    p.setProperty("userCol", e.userCol)
    p.setProperty("itemCol", e.itemCol)
    p.setProperty("ratingCol", e.ratingCol)
    p.setProperty("method", e.method.name)
    p.setProperty("modelPaths", e.modelPaths.mkString(","))
    p.setProperty("eventTotal", e.eventTotal.toString)
    p.setProperty("updateCounter", e.updateCounter.toString)
    p.setProperty("queryCounter", e.queryCounter.toString)
    e.viewPath.foreach(p.setProperty("viewPath", _))
    p.setProperty("viewComplete", e.viewComplete.toString)
    p.setProperty("viewTopK", e.viewTopK.toString)
    p.setProperty("viewVersion", e.viewVersion.toString)
    p.setProperty("lastBatchId", e.lastBatchId.toString)
    p.setProperty("nUsers", e.nUsers.toString)
    p.setProperty("nItems", e.nItems.toString)
    p.setProperty("modelRows", e.modelRows.toString)
    p.setProperty("neighborhood", e.neighborhood.toString)
    RecCatalog.writes.synchronized {
      publish(file(e.name), p, "graft recommender catalog entry")
    }
  }

  /** Commit `p` as `target` ([[graft.StateCommit.writeFile]]): a
    * concurrent reader sees the old file or the new one, never a truncated
    * one (list() skips the temp name). Callers hold [[RecCatalog.writes]].
    */
  private def publish(target: Path, p: Properties, comment: String): Unit = {
    val out = new java.io.ByteArrayOutputStream(1024)
    p.store(out, comment)
    graft.StateCommit.writeFile(target.toString, out.toByteArray)
  }

  /** Read-modify-write of one entry, atomic against every other entry
    * write or delete in this JVM — a point read's R18 query-counter bump
    * must not put back a view pointer that a concurrent materialization or
    * rebuild just replaced, nor a dropped entry. Returns the entry written,
    * None when there is no entry `name`; when `f` throws, nothing is.
    */
  def update(name: String)(f: RecEntry => RecEntry): Option[RecEntry] =
    RecCatalog.writes.synchronized {
      get(name).map { e => val n = f(e); put(n); n }
    }

  def delete(name: String): Boolean =
    RecCatalog.writes.synchronized(Files.deleteIfExists(file(name)))

  private def propsFile: Path = dir.resolve("_recdbproperties")

  /** Live read of the RecDBProperties row — auto-created with the
    * reference's defaults when absent, mirroring the CREATE-if-missing in
    * utility.c:901-908. The create re-checks under the write lock, so it
    * never overwrites a concurrent [[setProperties]].
    */
  def properties: RecDbProperties = {
    if (!Files.exists(propsFile)) RecCatalog.writes.synchronized {
      if (!Files.exists(propsFile)) writeProperties(RecDbProperties())
    }
    val p = new Properties()
    val in = Files.newInputStream(propsFile)
    try p.load(in) finally in.close()
    RecDbProperties(
      updateThreshold = p.getProperty("update_threshold", "0.5").toDouble,
      tailLength = p.getProperty("tail_length", "0").toInt,
      verboseQueries = p.getProperty("verbose_queries", "true").toBoolean)
  }

  /** Replace the properties row atomically: [[IncrementalMaintainer]]
    * re-reads it on every batch, and must never read a half-written file.
    */
  def setProperties(v: RecDbProperties): Unit =
    RecCatalog.writes.synchronized(writeProperties(v))

  private def writeProperties(v: RecDbProperties): Unit = {
    val p = new Properties()
    p.setProperty("update_threshold", v.updateThreshold.toString)
    p.setProperty("tail_length", v.tailLength.toString)
    p.setProperty("verbose_queries", v.verboseQueries.toString)
    publish(propsFile, p, "graft RecDBProperties (utility.c:903-908)")
  }
}

object RecCatalog {
  /** Orders entry and properties writes against [[RecCatalog.update]]
    * and the properties auto-create; JVM-wide, because several catalog
    * objects may share one directory.
    */
  private val writes = new Object
}
