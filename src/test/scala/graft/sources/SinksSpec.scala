package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("upsertByKey: latest version wins across repeated merges") {
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    val v1 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("k", "v", "ver")
    EventSources.upsertByKey(spark, dir, v1, Seq("k"), "ver")
    val v2 = Seq((2L, "B", 2L), (4L, "d", 2L)).toDF("k", "v", "ver")
    EventSources.upsertByKey(spark, dir, v2, Seq("k"), "ver")
    val v3 = Seq((2L, "ignored-older", 0L)).toDF("k", "v", "ver")
    EventSources.upsertByKey(spark, dir, v3, Seq("k"), "ver")
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d")
  }

  test("upsertByKey: every key of earlier merges survives a crash at any " +
      "commit step and the upsert that follows it") {
    import graft.StateCommitSpec.crashAt
    def upsert(dir: String, ks: Seq[Long], ver: Long): Unit =
      EventSources.upsertByKey(spark, dir,
        ks.map(k => (k, s"v$ver", ver)).toDF("k", "v", "ver"), Seq("k"), "ver")
    Seq("written", "published", "aside", "versioned", "linked").foreach {
      step =>
        var fired = false
        // a crashed merge, then the upsert that follows it: the keys kept
        // so far and the new key must all be read back
        def round(dir: String, kept: Set[Long], m: Long): Set[Long] = {
          fired |= crashAt(dir, step)(upsert(dir, Seq(10 * m, 10 * m + 1), m))
          upsert(dir, Seq(10 * m + 5), m)
          val got = spark.read.parquet(graft.StateCommit.live(dir))
            .select("k").as[Long].collect().toSet
          withClue(s"crash after '$step' in merge $m: ") {
            got should contain allElementsOf (kept + (10 * m + 5))
          }
          got
        }
        def fresh() = Files.createTempDirectory("graft-upcrash").toString + "/t"
        // the crashed merge publishes a new table
        round(fresh(), Set.empty, 1L)
        // the crashed merge is a plain table's first swap, then link swaps
        val dir = fresh()
        upsert(dir, Seq(1L, 2L), 0L)
        (2L to 4L).foldLeft(Set(1L, 2L))(round(dir, _, _))
        withClue(s"step '$step' never ran: ") { fired shouldBe true }
    }
  }
}
