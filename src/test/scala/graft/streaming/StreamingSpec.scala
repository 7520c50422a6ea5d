package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("watermarked tumbling aggregation emits finalized windows") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.tumblingAgg(df, window_ = "10 minutes",
      watermark = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(7), "view", 3.0))
    q.processAllAvailable()
    // advance event time far past the watermark to finalize the first window
    mem.addData((ts(40), "click", 9.0))
    q.processAllAvailable()
    val out = spark.table("tumbling").collect()
    q.stop()
    val clicks = out.find(r => r.getString(1) == "click")
    clicks.isDefined shouldBe true
    clicks.get.getLong(2) shouldBe 2L  // two clicks in the first window
    clicks.get.getDouble(3) shouldBe 3.0
  }

  test("late data beyond the watermark is dropped, not merged into closed windows") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.tumblingAgg(df, window_ = "10 minutes",
      watermark = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0))
    q.processAllAvailable()
    // advance the watermark far past window [0,10) so it finalizes…
    mem.addData((ts(40), "view", 9.0))
    q.processAllAvailable()
    // …then replay a LATE click into the closed window: it must be DROPPED
    // (bounded state is the contract that lets the 100 TB stream not grow
    // state forever), so the emitted count for [0,10) stays 2
    mem.addData((ts(2), "click", 100.0))
    q.processAllAvailable()
    mem.addData((ts(80), "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("late_drop").collect()
    q.stop()
    val firstWindowClicks = out.filter(r =>
      r.getString(1) == "click" && r.getTimestamp(0).getTime ==
        1700000000000L - (1700000000000L % 600000L))
    firstWindowClicks.length shouldBe 1
    firstWindowClicks.head.getLong(2) shouldBe 2L
    firstWindowClicks.head.getDouble(3) shouldBe 3.0 // 1.0 + 2.0, not +100
  }

  test("sessionization: gap split semantics (batch-mode flatMapGroupsWithState)") {
    // flatMapGroupsWithState runs identically over a batch Dataset (state
    // scoped to the batch, timeouts never fire) — the deterministic way to
    // exercise the gap-split fold; the streaming-mode timeout flush is
    // covered by the event-time sessionize test below (a processing-time
    // timeout under the default trigger re-batches continuously, so
    // processAllAvailable never settles — use sessionizeEventTime in
    // streams).
    val events = Seq(
      EventStreams.SessionEvent(1L, ts(0), 1.0),
      EventStreams.SessionEvent(1L, ts(5), 2.0),
      EventStreams.SessionEvent(1L, ts(30), 4.0),
      EventStreams.SessionEvent(1L, ts(31), 8.0),
      EventStreams.SessionEvent(2L, ts(2), 5.0),
      EventStreams.SessionEvent(2L, ts(50), 6.0)).toDS()
    val closed = EventStreams.sessionize(events, gapMs = 10 * 60000L)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    // user1: (0,5) closes when 30 arrives; (30,31) stays open (not emitted).
    // user2: (2) closes when 50 arrives; (50) stays open.
    closed.length shouldBe 2
    closed(0).user_id shouldBe 1L
    closed(0).events shouldBe 2L
    closed(0).totalValue shouldBe 3.0
    closed(0).start shouldBe ts(0)
    closed(0).end shouldBe ts(5)
    closed(1).user_id shouldBe 2L
    closed(1).events shouldBe 1L
    closed(1).totalValue shouldBe 5.0
  }

  test("event-time sessionize: watermark passing end+gap flushes the session") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[EventStreams.SessionEvent]
    val sessions = EventStreams.sessionizeEventTime(mem.toDS(),
      gapMs = 10 * 60000L, watermark = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sess_et")
      .outputMode(OutputMode.Append()).start()
    mem.addData(EventStreams.SessionEvent(1L, ts(0), 1.0),
      EventStreams.SessionEvent(1L, ts(5), 2.0))
    q.processAllAvailable() // watermark ≈ 4min: session (0,5) still open
    spark.table("sess_et").count() shouldBe 0L
    mem.addData(EventStreams.SessionEvent(2L, ts(60), 5.0))
    q.processAllAvailable() // watermark advances to ≈ 59min after this batch
    mem.addData(EventStreams.SessionEvent(2L, ts(61), 1.0))
    q.processAllAvailable() // timeout (5+10=15min < 59min) fires this batch
    val out = spark.table("sess_et").collect()
    q.stop()
    out.length shouldBe 1
    out(0).getLong(0) shouldBe 1L // user 1's idle session flushed by watermark
    out(0).getTimestamp(1) shouldBe ts(0)
    out(0).getTimestamp(2) shouldBe ts(5)
    out(0).getLong(3) shouldBe 2L
    out(0).getDouble(4) shouldBe 3.0
  }

  test("stream-stream interval join pairs events within the horizon only") {
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val v = views.toDF().toDF("ts", "user_id", "view_id")
    val c = clicks.toDF().toDF("ts", "user_id", "click_id")
    val joined = EventStreams.intervalJoin(v, c, key = "user_id",
      horizon = "10 minutes", watermark = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    views.addData((ts(0), 1L, 100L), (ts(0), 2L, 200L))
    clicks.addData((ts(5), 1L, 900L), // within horizon of view 100
      (ts(20), 1L, 901L), // beyond horizon
      (ts(3), 3L, 902L)) // no matching user
    q.processAllAvailable()
    val out = spark.table("ssjoin").collect()
    q.stop()
    out.map(r => (r.getAs[Long]("l_view_id"), r.getAs[Long]("r_click_id"))).toSet shouldBe
      Set((100L, 900L))
  }

  test("streaming dedup drops repeats within the watermark horizon") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "event_id", "event_type")
    val deduped = EventStreams.streamingDedup(df, Seq("event_id"), "30 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(0), 1L, "click"), (ts(1), 1L, "click"), (ts(2), 2L, "view"))
    q.processAllAvailable()
    mem.addData((ts(3), 2L, "view"), (ts(4), 3L, "buy"))
    q.processAllAvailable()
    val out = spark.table("dedup_out").collect()
    q.stop()
    out.map(_.getLong(1)).sorted shouldBe Array(1L, 2L, 3L)
  }

  test("stream-static enrichment joins the dim per micro-batch without dropping events") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val stream = mem.toDF().toDF("ts", "item_id", "value")
    val dim = Seq((1L, "book"), (2L, "film")).toDF("item_id", "category")
    val q = EventStreams.enrich(stream, dim, "item_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(1), 1L, 1.0), (ts(2), 2L, 2.0), (ts(3), 99L, 3.0))
    q.processAllAvailable()
    val out = spark.table("enriched").collect()
      .map(r => r.getLong(0) -> Option(r.getString(3)).getOrElse("∅")).toMap
    q.stop()
    out shouldBe Map(1L -> "book", 2L -> "film", 99L -> "∅")
  }

  test("bucketed tables join and aggregate without a shuffle exchange") {
    import graft.sources.Bucketing
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select($"event_id", $"user_id", $"value")
    Bucketing.writeBucketed(events, "ev_bucketed", "user_id", 4)
    Bucketing.writeBucketed(events.groupBy("user_id").count(),
      "user_counts_bucketed", "user_id", 4)
    // disable auto-broadcast so the sort-merge path exercises bucket
    // co-location (with broadcast on, the planner rightly prefers BHJ here)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.table(spark, "ev_bucketed")
        .join(Bucketing.table(spark, "user_counts_bucketed"), "user_id")
      joined.count() shouldBe events.count()
      assert(Bucketing.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString)
      // aggregation on the bucket key is shuffle-free too
      val agg = Bucketing.table(spark, "ev_bucketed")
        .groupBy("user_id").sum("value")
      agg.count() shouldBe 15
      assert(Bucketing.isShuffleFree(agg))
      // negative control: the same join over un-bucketed frames must show a
      // shuffle, proving the assertion inspects the real plan
      val unbucketed = events.join(events.groupBy("user_id").count(), "user_id")
      unbucketed.count()
      assert(!Bucketing.isShuffleFree(unbucketed))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("event sources validate and coerce the events triple") {
    import graft.sources.EventSources
    import graft.recdb.EventCols
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    Seq((1L, 2L, 3.5, "x"), (4L, 5L, 6.0, "y"))
      .toDF("userid", "itemid", "rating", "extra")
      .write.parquet(s"$dir/events.parquet")
    val df = EventSources.parquet(spark, s"$dir/events.parquet")
    df.count() shouldBe 2
    df.schema("userid").dataType.typeName shouldBe "long"
    an[IllegalArgumentException] should be thrownBy
      EventSources.parquet(spark, s"$dir/events.parquet",
        EventCols("nouser", "itemid", "rating"))
    // csv with ':' delimiter — the ML-100K shape (script.py:49)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ml.csv"), "1:10:4.0\n2:20:3.0\n")
    val ml = EventSources.csv(spark, s"$dir/ml.csv", delimiter = ":")
    ml.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
  }

  test("streaming near-dup maintenance: batch-union pairs == one-shot pair set") {
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val base = java.nio.file.Files.createTempDirectory("graft-ndm").toString
    val mem = MemoryStream[(Long, String)]
    val q = NearDupMaintainer.attach(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$base/index", s"$base/pairs", s"$base/ckpt")
    // three arrival waves; processAllAvailable between adds forces batch
    // boundaries, so pairs must accumulate across the index
    (0 until 3).foreach { g =>
      val wave = docs.where(col("doc_id") % 3 === g)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(wave.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(s"$base/pairs/b*")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.ops.Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    streamed shouldBe oneShot
    streamed.size should be > 10
    // replaying a batch (crash recovery) rewrites its dirs byte-identically
    // rather than double-appending
    val before = streamed.size
    NearDupMaintainer.processBatch(
      docs.where(col("doc_id") % 3 === 2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", s"$base/index", s"$base/pairs")
    spark.read.parquet(s"$base/pairs/b*").count() shouldBe before.toLong
    // compaction folds committed batches (default horizon: max-1) and the
    // next batch's probe sees the identical prior corpus
    NearDupMaintainer.compact(spark, s"$base/index")
    new java.io.File(s"$base/index/c1").exists() shouldBe true
    new java.io.File(s"$base/index/b0").exists() shouldBe false
    NearDupMaintainer.priorIndex(spark, s"$base/index", 2L).count() shouldBe
      docs.where(col("doc_id") % 3 =!= 2).count()
    // replaying the still-unfolded batch is fine; one below the horizon throws
    NearDupMaintainer.processBatch(
      docs.where(col("doc_id") % 3 === 2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", s"$base/index", s"$base/pairs")
    spark.read.parquet(s"$base/pairs/b*").count() shouldBe before.toLong
    intercept[IllegalArgumentException] {
      NearDupMaintainer.priorIndex(spark, s"$base/index", 1L)
    }
  }

  test("streaming ANN index: search == one-shot IVF over the union corpus; pruned scan; replay-idempotent") {
    import graft.ops.Ann
    val base = java.nio.file.Files.createTempDirectory("annidx").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // frozen coarse quantizer, trained once on the full corpus (the
    // bootstrap-train step of a serving deployment)
    val cents = Ann.ivfCentroidsFromDf(Ann.ivfTrain(emb, "embedding"))
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = AnnIndexMaintainer.attach(mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents, s"$base/index", s"$base/ckpt")
    val rows = emb.selectExpr("vec_id", "cast(embedding as array<double>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    (0 until 3).foreach { g =>
      mem.addData(rows.filter(_._1 % 3 == g).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val queries = rows.filter(_._1 < 5)
      .map { case (id, v) => (id, v.toArray) }.toSeq
    val got = AnnIndexMaintainer.search(spark, s"$base/index", cents,
      queries, k = 10)
    // static partition pruning: every scan in the union carries the
    // cell IN (...) predicate as a PARTITION filter
    val scans = got.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths.exists(_.toString.contains("annidx")))
    scans.nonEmpty shouldBe true
    scans.forall(_.partitionFilters.exists(_.toString.contains("cell"))) shouldBe true
    // exact parity with the one-shot IVF scan given the same frozen centroids
    val sq = spark
    import sq.implicits._
    val qdf = queries.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val oneShot = Ann.ivfTopK(emb, qdf, "vec_id", "embedding", k = 10,
      centroidsOpt = Some(cents))
    val a = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = oneShot.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    a shouldBe b
    // crash-replay of a batch rewrites its dir, never double-appends
    val n0 = AnnIndexMaintainer.readIndex(spark, s"$base/index").count()
    AnnIndexMaintainer.processBatch(
      rows.filter(_._1 % 3 == 2).toSeq.toDF("vec_id", "embedding"), 2L,
      "vec_id", "embedding", cents, s"$base/index")
    AnnIndexMaintainer.readIndex(spark, s"$base/index").count() shouldBe n0
    // compaction (default horizon max-1, then full) keeps the index, the
    // search results, and the partitioned layout identical
    AnnIndexMaintainer.compact(spark, s"$base/index")
    new java.io.File(s"$base/index/c1").exists() shouldBe true
    new java.io.File(s"$base/index/b0").exists() shouldBe false
    AnnIndexMaintainer.readIndex(spark, s"$base/index").count() shouldBe n0
    AnnIndexMaintainer.compact(spark, s"$base/index", Some(2L))
    new java.io.File(s"$base/index/c2").exists() shouldBe true
    AnnIndexMaintainer.readIndex(spark, s"$base/index").count() shouldBe n0
    val afterCompact = AnnIndexMaintainer.search(spark, s"$base/index", cents,
      queries, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    afterCompact shouldBe b
  }

  test("streaming exact dedup: merged state == one-shot, replay, compaction") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val base = java.nio.file.Files.createTempDirectory("graft-sed").toString
    val mem = MemoryStream[(Long, String)]
    val q = ExactDedupMaintainer.attach(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$base/state", s"$base/ckpt")
    (0 until 3).foreach { g =>
      val wave = docs.where(col("doc_id") % 3 === g)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(wave.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    def reps(): Set[(Long, Long)] =
      ExactDedupMaintainer.representatives(spark, s"$base/state")
        .as[(Long, Long)].collect().toSet
    val streamed = reps()
    val oneShot = Dedup.exactByHash(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    streamed shouldBe oneShot
    // crash replay is idempotent; LSM fold does not change the derivation
    ExactDedupMaintainer.processBatch(
      docs.where(col("doc_id") % 3 === 2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", s"$base/state")
    reps() shouldBe streamed
    ExactDedupMaintainer.compact(spark, s"$base/state")
    new java.io.File(s"$base/state/c1").exists() shouldBe true
    reps() shouldBe streamed
  }

  test("streaming substring index: spans == one-shot, retroactive growth, replay, compaction") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val base = java.nio.file.Files.createTempDirectory("graft-ssm").toString
    def spanSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.selectExpr("cast(doc_id as long)", "cast(span_start as long)",
        "cast(span_len as long)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = SubstrIndexMaintainer.attach(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", 30, s"$base/index", s"$base/ckpt")
    var afterWave1 = Set.empty[(Long, Long, Long)]
    (0 until 3).foreach { g =>
      val wave = docs.where(col("doc_id") % 3 === g)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(wave.toIndexedSeq)
      q.processAllAvailable()
      if (g == 0)
        afterWave1 = spanSet(SubstrIndexMaintainer.spans(spark,
          s"$base/index", 30))
    }
    q.stop()
    val streamed = spanSet(SubstrIndexMaintainer.spans(spark,
      s"$base/index", 30))
    val oneShot = spanSet(Dedup.duplicateSpans(docs, "doc_id", "text", 30)
      .withColumnRenamed("doc_id", "doc_id"))
    streamed shouldBe oneShot
    streamed.size should be > 10
    // duplication is retroactive: later waves must have grown the span set
    // beyond what wave-1 docs alone could produce, including NEW spans on
    // wave-1 docs (a wave-1 window duplicated for the first time by wave 3)
    assert(afterWave1.subsetOf(streamed) === false ||
      afterWave1.size < streamed.size)
    val wave1Ids = docs.where(col("doc_id") % 3 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val retro = streamed.filter(s => wave1Ids(s._1)) -- afterWave1
    retro should not be empty
    // replay (crash recovery) is idempotent
    SubstrIndexMaintainer.processBatch(
      docs.where(col("doc_id") % 3 === 2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", 30, s"$base/index")
    spanSet(SubstrIndexMaintainer.spans(spark, s"$base/index", 30)) shouldBe
      streamed
    // LSM fold changes nothing about the derived set
    SubstrIndexMaintainer.compact(spark, s"$base/index")
    new java.io.File(s"$base/index/c1").exists() shouldBe true
    new java.io.File(s"$base/index/b0").exists() shouldBe false
    spanSet(SubstrIndexMaintainer.spans(spark, s"$base/index", 30)) shouldBe
      streamed
  }

  test("streaming image-hash index: pairs == one-shot, cross-wave retroactivity, replay, compaction") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Multimodal
    val m = Multimodal.syntheticMedia(spark, 60)
      .select(col("media_id"), col("payload"))
    // clones land in DIFFERENT waves than their originals (id+1000 shifts
    // the %3 class for id%3 != 2·...), so pairing is cross-batch
    val corpus = m.unionByName(m.where(col("media_id") < 20)
      .select((col("media_id") + 1000L).as("media_id"), col("payload")))
      .cache()
    val base = java.nio.file.Files.createTempDirectory("graft-sih").toString
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = ImageHashMaintainer.attach(
      mem.toDF().toDF("media_id", "payload"), s"$base/state", s"$base/ckpt")
    (0 until 3).foreach { g =>
      mem.addData(corpus.where(col("media_id") % 3 === g)
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        .toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    def pairSet(): Set[(Long, Long, Long)] =
      ImageHashMaintainer.pairs(spark, s"$base/state")
        .as[(Long, Long, Long)].collect().toSet
    val streamed = pairSet()
    streamed shouldBe Multimodal.imageNearDupPairs(corpus)
      .as[(Long, Long, Long)].collect().toSet
    // retroactivity: at least one pair straddles ingestion waves
    streamed.exists { case (a, b, _) => a % 3 != b % 3 } shouldBe true
    // replay idempotent; fold invariant
    ImageHashMaintainer.processBatch(
      corpus.where(col("media_id") % 3 === 2).toDF("media_id", "payload"),
      2L, s"$base/state")
    pairSet() shouldBe streamed
    ImageHashMaintainer.compact(spark, s"$base/state")
    new java.io.File(s"$base/state/c1").exists() shouldBe true
    pairSet() shouldBe streamed
  }

  test("incremental curation: curated == one-shot under out-of-order ids, replay, compaction") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Corpus
    implicit val ctx = spark.sqlContext
    // the raw corpus has no exact duplicates, so splice in high-id CLONES
    // and ingest them FIRST: the true (min-id) representative of every
    // cloned text arrives LATE, forcing representative displacement — the
    // text was window-indexed under the clone's id, and the digest-sidecar
    // relabeling has to reassign those spans to the late-arriving rep
    val raw = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val clones = raw.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
    val docs = raw.unionByName(clones).cache()
    val base = java.nio.file.Files.createTempDirectory("graft-scu").toString
    val waves = Seq(
      docs.where(col("doc_id") >= 9000L),
      docs.where(col("doc_id") < 9000L && col("doc_id") % 2 === 1),
      docs.where(col("doc_id") < 9000L && col("doc_id") % 2 === 0))
    val mem = MemoryStream[(Long, String)]
    val q = CurateMaintainer.attach(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", 30, s"$base/state", s"$base/ckpt")
    waves.foreach { w =>
      mem.addData(w.collect().map(r => (r.getLong(0), r.getString(1)))
        .toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    def curatedSet(): Set[(Long, Long, Double, Long)] =
      CurateMaintainer.curated(docs, "doc_id", "text", s"$base/state")
        .selectExpr("doc_id", "n_tok", "round(avg_nll, 6)", "cum_tok")
        .as[(Long, Long, Double, Long)].collect().toSet
    val streamed = curatedSet()
    val oneShot = Corpus.curate(docs, "doc_id", "text")
      .selectExpr("doc_id", "n_tok", "round(avg_nll, 6)", "cum_tok")
      .as[(Long, Long, Double, Long)].collect().toSet
    streamed shouldBe oneShot
    streamed.size should be > 50
    // displacement really happened: every cloned text's representative is
    // the LATE-arriving original (id < 9000), while its windows were
    // indexed under the wave-0 clone id
    val reps = ExactDedupMaintainer
      .representatives(spark, s"$base/state/exact")
      .where(col("n_copies") > 1)
      .select("doc_id").as[Long].collect().toSet
    reps should not be empty
    all(reps) should be < 9000L
    // crash replay of the newest batch is idempotent (its "new digest"
    // view excludes its own prior write)
    CurateMaintainer.processBatch(waves(2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", 30, s"$base/state")
    curatedSet() shouldBe streamed
    // LSM fold across all three state families changes nothing
    CurateMaintainer.compact(spark, s"$base/state")
    new java.io.File(s"$base/state/exact/c1").exists() shouldBe true
    new java.io.File(s"$base/state/map/c1").exists() shouldBe true
    curatedSet() shouldBe streamed
  }

  test("clusterForWrite: cell-partitioned batch write stays one file per " +
      "cell at an explicit (AQE-exempt) partition count") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfw").toString
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0),
      Array(-1.0, 0.0), Array(0.0, -1.0))
    val vecs = (0L until 64L).map(i =>
      (i, Seq(math.cos(i * 0.7), math.sin(i * 0.7))))
      .toDF("vec_id", "embedding")
    AnnIndexMaintainer.processBatch(vecs, 0L, "vec_id", "embedding",
      cents, s"$base/index")
    val cellDirs = Option(new java.io.File(s"$base/index/b0").listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("cell="))
    cellDirs.size shouldBe 4
    // each cell's rows hash wholly into ONE task → exactly one part file
    // per cell dir, the same layout the pre-round-16 single-task write
    // produced (only the producing parallelism changed)
    cellDirs.foreach { d =>
      d.listFiles().count(_.getName.startsWith("part-")) shouldBe 1
    }
    // contents: the union read returns every row with its assigned cell
    AnnIndexMaintainer.readIndex(spark, s"$base/index")
      .count() shouldBe 64L
  }

  test("inParallel: runs all bodies, rethrows the first failure only " +
      "after every body has completed") {
    val done = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException] {
      graft.Exec.inParallel(
        () => { Thread.sleep(50); done.incrementAndGet(); () },
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(10); done.incrementAndGet(); () })
    }
    e.getMessage shouldBe "boom"
    // both non-failing bodies finished BEFORE the rethrow — no caller
    // ever observes a write still in flight
    done.get() shouldBe 2
  }

  test("inParallel: an interrupted caller drains every body, then " +
      "rethrows with its interrupt flag set") {
    import java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.CountDownLatch(2)
    val (spun, woken) = (new AtomicInteger, new AtomicInteger)
    @volatile var seen: Option[(Boolean, Int, Int)] = None
    val caller = new Thread(() =>
      try graft.Exec.inParallel(
        () => { // ignores interrupts, like a body blocked in a write
          started.countDown()
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < 300000000L) {}
          spun.incrementAndGet(); ()
        },
        () => {
          started.countDown()
          try Thread.sleep(60000)
          catch { case _: InterruptedException => woken.incrementAndGet(); () }
        })
      catch {
        case _: InterruptedException => seen =
          Some((Thread.currentThread().isInterrupted, spun.get, woken.get))
      })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(30000)
    // the uninterruptible body had finished and the sleeping one had been
    // cancelled before the caller saw the exception
    seen shouldBe Some((true, 1, 1))
  }

  test("inParallel: runs at most MaxParallel bodies at once") {
    import java.util.concurrent.atomic.AtomicInteger
    val (running, peak, done) =
      (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    graft.Exec.inParallel((1 to 3 * graft.Exec.MaxParallel).map { _ => () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(50)
      running.decrementAndGet(); done.incrementAndGet(); ()
    }: _*)
    done.get() shouldBe 3 * graft.Exec.MaxParallel
    peak.get() should be <= graft.Exec.MaxParallel
  }
}
