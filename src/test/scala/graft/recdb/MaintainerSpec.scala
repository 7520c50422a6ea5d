package graft.recdb

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** R17 end-to-end: stream inserts through foreachBatch, counter semantics,
  * threshold-triggered full rebuild with counter reset (recathon.c:951-1203).
  */
class MaintainerSpec extends SparkSpec {
  import spark.implicits._

  val c: EventCols = EventCols("userid", "itemid", "rating")

  test("threshold retrain: counter accumulates, rebuild at 0.5×eventTotal, reset") {
    val base = Files.createTempDirectory("graft-maint").toString
    val catalog = new RecCatalog(s"$base/catalog")
    val eventsPath = s"$base/events.parquet"
    val initial = new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
    initial.write.parquet(eventsPath) // 10 events
    val entry = Recommender.create(spark, "m1",
      spark.read.parquet(eventsPath), "tbl", c, "itemcoscf", catalog, s"$base/models")
    entry.eventTotal shouldBe 10
    val modelBefore = spark.read.parquet(entry.modelPaths.head).count()

    val maint = new IncrementalMaintainer(catalog, eventsPath)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val stream = mem.toDF().toDF("userid", "itemid", "rating")
    val q = maint.attach(stream, "m1", s"$base/ckpt")

    // 3 new events: 3 < 0.5×10 → counter only
    mem.addData((5L, 1L, 4.0), (5L, 2L, 2.0), (5L, 3L, 5.0))
    q.processAllAvailable()
    catalog.get("m1").get.updateCounter shouldBe 3
    catalog.get("m1").get.eventTotal shouldBe 10

    // 2 more: 5 >= 0.5×10 → full rebuild, counters reset, eventTotal = 15
    mem.addData((5L, 4L, 1.0), (6L, 1L, 3.0))
    q.processAllAvailable()
    q.stop()
    val after = catalog.get("m1").get
    after.updateCounter shouldBe 0
    after.eventTotal shouldBe 15
    // rebuilt model reflects the enlarged events table (u5 co-rates widely)
    val modelAfter = spark.read.parquet(entry.modelPaths.head).count()
    modelAfter should be >= modelBefore
    val full = spark.read.parquet(eventsPath)
    full.count() shouldBe 15
    val expected = Similarity.itemCosine(full, c).count()
    modelAfter shouldBe expected
  }

  test("RecDBProperties: live update_threshold drives maintenance; vestigial knobs round-trip") {
    val base = Files.createTempDirectory("graft-props").toString
    val catalog = new RecCatalog(s"$base/catalog")
    // auto-created with the reference's defaults (utility.c:907)
    catalog.properties shouldBe RecDbProperties(0.5, 0, true)
    val eventsPath = s"$base/events.parquet"
    val initial = new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
    initial.write.parquet(eventsPath) // 10 events
    Recommender.create(spark, "p1", spark.read.parquet(eventsPath), "tbl",
      c, "itemcoscf", catalog, s"$base/models")
    val maint = new IncrementalMaintainer(catalog, eventsPath)
    // 2 events < 0.5×10: no rebuild under the default threshold
    val d2 = Seq((7L, 1L, 4.0), (7L, 2L, 2.0)).toDF("userid", "itemid", "rating")
    maint.processBatch("p1", d2, batchId = 0L) shouldBe false
    catalog.get("p1").get.updateCounter shouldBe 2
    // drop the threshold to 0.2 — the NEXT check reads it live
    // (getUpdateThreshold re-reads per check, recathon.c:908-948)
    catalog.setProperties(RecDbProperties(updateThreshold = 0.2,
      tailLength = 7, verboseQueries = false))
    val d1 = Seq((8L, 1L, 3.0)).toDF("userid", "itemid", "rating")
    // counter 3 >= 0.2×10 → rebuild now
    maint.processBatch("p1", d1, batchId = 1L) shouldBe true
    catalog.get("p1").get.updateCounter shouldBe 0
    // vestigial knobs persist verbatim (never consumed — same as reference)
    catalog.properties shouldBe RecDbProperties(0.2, 7, false)
    // explicit override ignores the store (embedding-deployment escape hatch)
    val fixed = new IncrementalMaintainer(catalog, eventsPath, Some(0.9))
    val d3 = Seq((9L, 1L, 1.0)).toDF("userid", "itemid", "rating")
    fixed.processBatch("p1", d3, batchId = 2L) shouldBe false
  }

  test("RecDBProperties: the auto-create never overwrites a set; a live " +
      "reader never sees a torn write") {
    import java.util.concurrent.{CountDownLatch, Executors}
    val catalog = new RecCatalog(
      Files.createTempDirectory("graft-props-race").toString + "/catalog")
    val set = RecDbProperties(0.25, 3, false)
    val pool = Executors.newFixedThreadPool(4)
    try {
      // first reads race a set on a fresh catalog
      val go = new CountDownLatch(1)
      val racers = (1 to 4).map(i => pool.submit(new Runnable {
        def run(): Unit = {
          go.await()
          if (i == 1) catalog.setProperties(set) else catalog.properties
          ()
        }
      }))
      go.countDown()
      racers.foreach(_.get())
      catalog.properties shouldBe set
      // a writer alternates two rows while this thread reads them live
      val (a, b) = (RecDbProperties(0.9, 1, true), RecDbProperties(0.7, 2, false))
      val stop = new java.util.concurrent.atomic.AtomicBoolean
      val writer = pool.submit(new Runnable {
        def run(): Unit = {
          var i = 0
          while (!stop.get) { catalog.setProperties(if (i % 2 == 0) a else b); i += 1 }
        }
      })
      val seen = try (1 to 2000).map(_ => catalog.properties).toSet
        finally stop.set(true)
      writer.get()
      seen.diff(Set(set, a, b)) shouldBe empty
    } finally pool.shutdownNow()
  }

  /** `rows` as a batch whose first evaluation runs `during` once, in a
    * task of this JVM: between the maintainer's catalog read and its write.
    */
  def batchRunning(rows: Seq[(Long, Long, Double)])(during: => Unit) = {
    import org.apache.spark.sql.functions.{col, udf}
    MaintainerSpec.during.set(() => during)
    val fire = udf { (_: Long) => MaintainerSpec.fire(); true }
    rows.toDF("userid", "itemid", "rating").coalesce(1)
      .where(fire(col("userid")))
  }

  /** A point read's R18 bump. */
  def bump(catalog: RecCatalog, name: String): Unit = {
    catalog.update(name)(e => e.copy(queryCounter = e.queryCounter + 1)); ()
  }

  def maintained(name: String): (RecCatalog, String, String) = {
    val base = Files.createTempDirectory("graft-rmw").toString
    val catalog = new RecCatalog(s"$base/catalog")
    val eventsPath = s"$base/events.parquet"
    new MicroFixtureSpec {}.fixture.toDF("userid", "itemid", "rating")
      .write.parquet(eventsPath) // 10 events
    Recommender.create(spark, name, spark.read.parquet(eventsPath), "tbl", c,
      "itemcoscf", catalog, s"$base/models")
    (catalog, eventsPath, base)
  }

  test("a below-threshold batch keeps the bumps and the view published " +
      "while it ran") {
    val (catalog, eventsPath, base) = maintained("rw")
    val view = s"$base/views/rw.view.v1.parquet"
    val batch = batchRunning(Seq((5L, 1L, 4.0), (5L, 2L, 2.0), (5L, 3L, 5.0))) {
      (1 to 3).foreach(_ => bump(catalog, "rw"))
      // as materializeView publishes a view
      catalog.update("rw")(_.copy(viewPath = Some(view), viewTopK = 3L,
        viewVersion = 1L))
    }
    new IncrementalMaintainer(catalog, eventsPath)
      .processBatch("rw", batch, batchId = 0L) shouldBe false
    val e = catalog.get("rw").get
    e.updateCounter shouldBe 3L
    e.lastBatchId shouldBe 0L
    e.queryCounter shouldBe 3L
    e.viewPath shouldBe Some(view)
    e.viewTopK shouldBe 3L
    e.viewVersion shouldBe 1L
  }

  test("a rebuilding batch keeps the bumps made while it ran and the " +
      "version of a view it drops") {
    val (catalog, eventsPath, base) = maintained("rb")
    val batch = batchRunning(Seq((5L, 1L, 4.0), (5L, 2L, 2.0), (5L, 3L, 5.0),
        (5L, 4L, 1.0), (6L, 1L, 3.0))) {
      (1 to 2).foreach(_ => bump(catalog, "rb"))
      catalog.update("rb")(_.copy(
        viewPath = Some(s"$base/views/rb.view.v1.parquet"), viewTopK = 3L,
        viewVersion = 1L))
    }
    new IncrementalMaintainer(catalog, eventsPath)
      .processBatch("rb", batch, batchId = 0L) shouldBe true
    val e = catalog.get("rb").get
    e.eventTotal shouldBe 15L
    e.updateCounter shouldBe 0L
    e.lastBatchId shouldBe 0L
    e.queryCounter shouldBe 2L
    e.viewPath shouldBe None
    e.viewTopK shouldBe -1L
    e.viewVersion shouldBe 1L
  }

  test("a materialization keeps the bumps made while it ran") {
    val (catalog, eventsPath, base) = maintained("mv")
    val events = spark.read.parquet(eventsPath)
    val during = batchRunning(events.as[(Long, Long, Double)].collect().toSeq) {
      (1 to 2).foreach(_ => bump(catalog, "mv"))
    }
    Recommender.materializeView(spark, "mv", during, catalog,
      s"$base/views", Some(3))
    val e = catalog.get("mv").get
    e.queryCounter shouldBe 3L // the scoring's own bump, then these two
    e.viewVersion shouldBe 1L
    e.viewTopK shouldBe 3L
  }
}

object MaintainerSpec {
  /** The side effect [[MaintainerSpec.batchRunning]]'s batch runs once. */
  val during = new java.util.concurrent.atomic.AtomicReference[() => Unit]

  def fire(): Unit = Option(during.getAndSet(null)).foreach(_())
}
