package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[StateCommit]]: the guard that keeps it the only rename in the engine,
  * and fault injection at every step of every commit kind and of every
  * migrated maintainer's commit — a reader sees a whole old or a whole new
  * version, the next commit succeeds, and no temp or version beyond the
  * one-version grace is left.
  */
class StateCommitSpec extends SparkSpec {
  import StateCommitSpec._
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // ------------------------------------------------------------- guard

  test("guard: StateCommit.scala is the only main source that renames " +
      "or moves a path") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val banned = Seq("renameTo(", "Files.move(", "ATOMIC_MOVE", ".__old",
      ".__tmp")
    val walk = Files.walk(root)
    val hits =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "StateCommit.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) => s"$p:${i + 1}: ${l.trim}"
        }).toList
      finally walk.close()
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }

  // ------------------------------------------- the three commit kinds

  /** A dir version: three files that each carry the tag `v`. */
  private def writeTagged(v: Int)(dir: String): Unit =
    (0 until 3).foreach { i =>
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, s"part-$i"), v.toString)
    }

  /** The tag of a whole version, None when the name is absent; a mix of
    * tags or a missing file fails. */
  private def readTagged(path: String): Option[Int] = {
    val d = new File(StateCommit.live(path))
    if (!d.exists()) None
    else {
      val tags = (0 until 3).map(i =>
        Files.readString(Paths.get(d.getPath, s"part-$i")).toInt).distinct
      tags.size shouldBe 1
      Some(tags.head)
    }
  }

  test("writeFile: a crash after the temp write keeps the old file; the " +
      "next write lands and leaves no temp") {
    val dir = tmp("scfile")
    val f = s"$dir/marker"
    StateCommit.writeFile(f, "old".getBytes)
    crashAt(dir, "written")(StateCommit.writeFile(f, "new".getBytes)) shouldBe
      true
    Files.readString(Paths.get(f)) shouldBe "old"
    StateCommit.writeFile(f, "newer".getBytes)
    Files.readString(Paths.get(f)) shouldBe "newer"
    new File(dir).list().toSeq shouldBe Seq("marker")
  }

  test("writeDir of an absent name: a crash at either step leaves the " +
      "name absent or whole; the retry publishes it with no temp left") {
    Seq("written", "published").foreach { step =>
      val p = s"${tmp("scnew")}/d"
      crashAt(p, step)(StateCommit.writeDir(p)(writeTagged(1))) shouldBe true
      readTagged(p) should (be(None) or be(Some(1)))
      StateCommit.writeDir(p)(writeTagged(2))
      readTagged(p) shouldBe Some(2)
      assertTidy(p)
    }
  }

  test("writeDir swaps of an existing name — the first-swap conversion " +
      "and the link swap — serve a whole version at every crash point") {
    val d = tmp("scswap") + "/d"
    crashEveryStep(d, () => (), v => StateCommit.writeDir(d)(writeTagged(v)),
      () => readTagged(d).get, identity)
  }

  test("delete removes a swapped name with its versions and temps") {
    val root = tmp("scdel")
    val p = s"$root/d"
    StateCommit.writeDir(p)(writeTagged(1))
    StateCommit.writeDir(p)(writeTagged(2))
    crashAt(p, "written")(StateCommit.writeDir(p)(writeTagged(3)))
    Files.isSymbolicLink(Paths.get(p)) shouldBe true
    new File(root).list().length should be > 1
    StateCommit.delete(p)
    new File(root).list().toSeq shouldBe empty
  }

  test("a copy of a dir holding a swapped name serves the same version") {
    val root = tmp("sccopy")
    StateCommit.writeDir(s"$root/s/d")(writeTagged(1))
    StateCommit.writeDir(s"$root/s/d")(writeTagged(2))
    Exec.copyPath(s"$root/s", s"$root/c")
    readTagged(s"$root/c/d") shouldBe Some(2)
    Exec.copyPath(s"$root/s/d", s"$root/flat")
    Files.isSymbolicLink(Paths.get(s"$root/flat")) shouldBe false
    readTagged(s"$root/flat") shouldBe Some(2)
  }

  // ------------------------------------------------ maintainer readers

  test("manifest pins: a re-pin crashed at any step serves the old pins " +
      "or the new; the next pin heals") {
    import graft.streaming.{AnnIndexMaintainer, SnapshotManifest}
    import graft.streaming.SnapshotManifest.Pin
    val ann = tmp("scann")
    AnnIndexMaintainer.processBatch(
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("vec_id",
        "embedding"), 0L, "vec_id", "embedding",
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), ann)
    val mdir = tmp("scman") + "/m"
    crashEveryStep(mdir, () => (),
      v => SnapshotManifest.pin(spark, Seq(Pin(s"p$v", "ann", ann, 0L)), mdir),
      () => SnapshotManifest.pins(spark, mdir).map(_.state),
      v => Seq(s"p$v"))
  }

  test("served cents: servingCentsFile reads the old quantizer or the " +
      "new one at every crash point of its commit") {
    import graft.streaming.MaintenancePlanner
    val dir = tmp("sccents")
    crashEveryStep(s"$dir/cents", () => (),
      v => StateCommit.writeDir(s"$dir/cents")(
        (0 to v).map(i => (i, Seq(v.toDouble, 0.0))).toDF("cid", "c")
          .coalesce(1).write.mode("overwrite").parquet(_)),
      () => spark.read.parquet(MaintenancePlanner.servingCentsFile(dir)
          .getPath).as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq,
      v => (0 to v).map(i => (i, Seq(v.toDouble, 0.0))))
  }

  test("shard data: compactTombstones crashed at any step leaves the live " +
      "view whole; the next compaction lands") {
    import graft.streaming.ShardMaintainer
    val base = tmp("scshard")
    ShardMaintainer.reconcile(Seq((1L, "1:2", 2L), (2L, "3", 1L),
      (4L, "9", 1L)).toDF("seq_id", "ids_str", "n_tok"), 0L, epochs = 1,
      shardSize = 2, base)
    ShardMaintainer.reconcile(Seq((1L, "1:2", 2L), (3L, "4:5", 2L),
      (4L, "9", 1L)).toDF("seq_id", "ids_str", "n_tok"), 1L, epochs = 1,
      shardSize = 2, base)
    val dir = tmp("scshardw")
    def live() = ShardMaintainer.readShardsLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    Exec.copyPath(base, dir)
    val whole = live()
    crashEveryStep(s"$dir/data", () => Exec.copyPath(base, dir),
      _ => ShardMaintainer.compactTombstones(spark, dir, upTo = 1L),
      () => live(), _ => whole)
  }

  test("upsert table: upsertByKey crashed at any step keeps every earlier " +
      "merge readable") {
    import graft.sources.EventSources
    val t = tmp("scups") + "/t"
    // each merge re-sends the previous key, the way a replay would
    crashEveryStep(t, () => (),
      v => EventSources.upsertByKey(spark, t,
        Seq(v - 1, v).filter(_ >= 0).map(k => (k.toLong, v.toLong))
          .toDF("k", "ver"), Seq("k"), "ver"),
      () => spark.read.parquet(StateCommit.live(t)).as[(Long, Long)]
        .collect().map(_._1).toSet,
      v => (0L to v.toLong).toSet)
  }

  test("recommender model: CREATE and the R17 retrain crashed at any step " +
      "serve the old model or the new; DROP leaves no version behind") {
    import graft.recdb.{EventCols, RecCatalog, Recommender}
    val c = EventCols("userid", "itemid", "rating")
    val root = tmp("screc")
    val cat = new RecCatalog(s"$root/catalog")
    // version v trains on the first 20 + 4v ratings
    val all = (for {
      u <- 1L to 12L; i <- 1L to 8L if (u * 5 + i * 3) % 4 != 0
    } yield (u, i, (1 + (u * i) % 5).toDouble))
    def events(v: Int) = all.take(20 + 4 * v).toDF("userid", "itemid",
      "rating")
    def modelRows(path: String) = spark.read.parquet(path).collect()
      .map(_.toSeq.map {
        case d: Double => f"$d%.9f"
        case x => String.valueOf(x)
      }.mkString(",")).sorted.toSeq
    val expected = (0 to 4).map { v =>
      val e = Recommender.create(spark, s"x$v", events(v), s"x$v", c,
        "itemcoscf", cat, s"$root/expected")
      modelRows(e.modelPaths.head)
    }
    val model = s"$root/models/m.model.parquet"
    crashEveryStep(model,
      () => {
        Recommender.drop("m", cat)
        Recommender.create(spark, "m", events(0), "m", c, "itemcoscf", cat,
          s"$root/models")
      },
      v => Recommender.train(events(v), cat.get("m").get),
      () => modelRows(StateCommit.live(model)), expected)
    Recommender.drop("m", cat) shouldBe true
    new File(s"$root/models").list().toSeq shouldBe empty
  }

  test("svd model: a retrain crashed at any step serves user and item " +
      "factors of one training; DROP leaves no version behind") {
    import graft.recdb.{EventCols, RecCatalog, Recommender}
    val c = EventCols("userid", "itemid", "rating")
    val root = tmp("scsvd")
    val cat = new RecCatalog(s"$root/catalog")
    val models = s"$root/models"
    // trainings of even and odd v see disjoint users and items: ids 1-6
    // and 11-16
    def shift(v: Int) = 10L * (v % 2)
    def events(v: Int) = (for {
      u <- 1L to 6L; i <- 1L to 6L if (u + i) % 3 != 0
    } yield (u + shift(v), i + shift(v), (1 + (u * i) % 5).toDouble))
      .toDF("userid", "itemid", "rating")
    def ids(v: Int) = {
      val r = (1L to 6L).map(_ + shift(v)).toSet
      (r, r)
    }
    // (users, items) that a catalog-hit svd RECOMMEND scores
    def served() = {
      val rows = Recommender.recommend(spark, events(0), "m", c, "svd",
        Some(cat)).collect()
      (rows.map(_.getLong(0)).toSet, rows.map(_.getLong(1)).toSet)
    }
    Seq("written", "aside", "versioned", "linked").foreach { step =>
      withClue(s"crash after '$step': ") {
        Recommender.drop("m", cat)
        Recommender.create(spark, "m", events(0), "m", c, "svd", cat, models)
        served() shouldBe ids(0)
        // v = 1 swaps the plain dir CREATE published, v = 2 a link
        (1 to 2).foreach { v =>
          crashAt(models, step)(Recommender.train(events(v),
            cat.get("m").get)) shouldBe (step != "aside" || v == 1)
          served() should (be(ids(v - 1)) or be(ids(v)))
          Recommender.train(events(v), cat.get("m").get)
          served() shouldBe ids(v)
        }
        assertTidy(s"$models/m.factors")
      }
    }
    Recommender.drop("m", cat) shouldBe true
    new File(models).list().toSeq shouldBe empty
  }

  test("catalog entry and retention policy: a crashed file commit keeps " +
      "the old record; the next write lands") {
    import graft.recdb.{RecCatalog, RecEntry, RecMethod}
    import graft.streaming.Retention
    val root = tmp("screcs")
    val cat = new RecCatalog(s"$root/catalog")
    val e = RecEntry("r", "t", "u", "i", "v", RecMethod.ItemCosCF, Seq("m"),
      eventTotal = 1L)
    cat.put(e)
    crashAt(root, "written")(cat.update("r")(_.copy(queryCounter = 7L))) shouldBe
      true
    cat.get("r").get.queryCounter shouldBe 0L
    cat.update("r")(_.copy(queryCounter = 8L))
    cat.get("r").get.queryCounter shouldBe 8L
    new File(s"$root/catalog").list().toSeq shouldBe Seq("r.recommender")
    val state = s"$root/state"
    val policy = s"$state/selection/_retpolicy"
    new File(s"$state/selection").mkdirs()
    Retention.setSelectionPolicy(state, 3)
    crashAt(root, "written")(Retention.setSelectionPolicy(state, 5)) shouldBe
      true
    Retention.readPolicy(policy) shouldBe Some(3)
    Retention.setSelectionPolicy(state, 5)
    Retention.readPolicy(policy) shouldBe Some(5)
    new File(s"$state/selection").list().toSeq shouldBe Seq("_retpolicy")
  }

  /** For every step of a swap of `path`: `fresh()`, then `commit(0)` if
    * that left no `path`, make version 0 a plain dir; a crashed first swap
    * (the conversion), a clean swap, a crashed link swap and a clean swap
    * follow, with `read()` checked against `expect` after each. */
  private def crashEveryStep[T](path: String, fresh: () => Unit,
      commit: Int => Unit, read: () => T, expect: Int => T): Unit =
    Seq("written", "aside", "versioned", "linked").foreach { step =>
      withClue(s"crash after '$step': ") {
        StateCommit.delete(path)
        fresh()
        if (!new File(path).exists()) commit(0)
        Files.isSymbolicLink(Paths.get(path)) shouldBe false
        read() shouldBe expect(0)
        crashAt(path, step)(commit(1)) shouldBe true
        read() should (be(expect(0)) or be(expect(1)))
        commit(2)
        read() shouldBe expect(2)
        if (step != "aside") {
          crashAt(path, step)(commit(3)) shouldBe true
          read() should (be(expect(2)) or be(expect(3)))
        }
        commit(4)
        read() shouldBe expect(4)
        Files.isSymbolicLink(Paths.get(path)) shouldBe true
        assertTidy(path)
      }
    }

  /** No temp beside `path`, and at most one version besides the served
    * one. */
  private def assertTidy(path: String): Unit = {
    val f = new File(path).getAbsoluteFile
    val beside = f.getParentFile.list().toSeq
      .filter(_.startsWith(s".${f.getName}.")).sorted
    beside.filterNot(_.matches(s"\\Q.${f.getName}.\\Ev\\d+")) shouldBe empty
    beside.size should be <= 2
    if (Files.isSymbolicLink(f.toPath))
      beside should contain(Files.readSymbolicLink(f.toPath).toString)
  }
}

object StateCommitSpec {
  final class Crash(step: String) extends RuntimeException(s"crash: $step")

  /** Run `commit` with a crash after the first `step` of a commit under
    * `root`; true when the crash fired. The crash unwinds `commit` the way
    * a killed process stops it: nothing after the step runs. */
  def crashAt(root: String, step: String)(commit: => Any): Boolean = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val under = new File(root).getAbsolutePath
    StateCommit.afterStep = (p, s) =>
      if (s == step && new File(p).getAbsolutePath.startsWith(under) &&
          fired.compareAndSet(false, true)) throw new Crash(s)
    try { commit; () }
    catch {
      case e: Throwable if Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[Crash]) => ()
    }
    finally StateCommit.afterStep = (_, _) => ()
    fired.get
  }
}
