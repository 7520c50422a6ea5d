package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Ann, TextOps, TfIdf}
import graft.streaming.{AnnIndexMaintainer, SearchIndexMaintainer}

/** `pipeline_hybrid`: the training-data pipeline surface. An open-loop
  * writer streams seeded document batches into the BM25 postings index and
  * the IVF vector index and compacts both every [[PipelineHybrid.CompactEvery]]
  * batches; a closed-loop reader runs hybrid top-10 queries (BM25 + IVF
  * fused by reciprocal rank) for held-out documents.
  */
final class PipelineHybrid(seed: Long) extends Workload {
  import PipelineHybrid._
  val name = "pipeline_hybrid"
  private val docs = Gen.documents(Docs, Vocab, 20, 80, seed)
  private val order = Gen.permutation(docs.size, Gen.rng(seed, "doc-order")).toVector
  private val queryDocs = order.take(Queries).map(docs(_))
  private val corpus = order.drop(Queries).map(docs(_))
  private val corpusIds: Set[Long] = corpus.map(_.id).toSet
  private val initial = corpus.take(InitialDocs)
  private val stream = corpus.drop(InitialDocs).grouped(BatchDocs).toVector
  private val reads = Gen.zipfSequence(queryDocs.indices.map(_.toLong), 200000, 0.8,
    seed, "readers").map(_.toInt)
  private val sampled = Gen.zipfSequence(queryDocs.indices.map(_.toLong), 3, 0.8,
    seed, "sample").map(_.toInt).distinct

  private var dir: String = _
  private var cents: Array[Array[Double]] = _
  private var queryVecs: Map[Long, Array[Double]] = Map.empty
  /** Every ingested document's embedding, for the checks' second route. */
  private val ingested = new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]
  private val ingestedText = new java.util.concurrent.ConcurrentHashMap[Long, String]
  private var nextBatch = 0
  /** Queries drawn from `reads` so far; every window goes on from here. */
  private var nextRead = 0

  def digest: String = Gen.digest(docs.iterator.map(d => s"${d.id}:${d.text}") ++
    order.iterator.map(_.toString) ++ reads.iterator.take(1000).map(_.toString))

  private def postings = s"$dir/postings"
  private def index = s"$dir/index"

  private def docFrame(ds: Seq[Gen.Doc]): DataFrame = {
    val spark = session
    import spark.implicits._
    ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }
  private var session: org.apache.spark.sql.SparkSession = _
  private def spark = session

  /** Embed a batch through the program's text tower. */
  private def embed(h: Harness, ds: Seq[Gen.Doc]): Seq[(Long, Array[Double])] =
    h.call("ops.embed_ms") {
      docFrame(ds).select(col("doc_id"), TextOps.textEmbedding(col("text"), Dim))
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    }

  private def ingest(h: Harness, ds: Seq[Gen.Doc], batchId: Long,
      embedded: Seq[(Long, Array[Double])] = Nil): Unit = {
    val spark = session
    import spark.implicits._
    val vecs = if (embedded.nonEmpty) embedded else embed(h, ds)
    vecs.foreach { case (i, v) => ingested.put(i, v) }
    ds.foreach(d => ingestedText.put(d.id, d.text))
    h.call("streaming.search_batch_ms") {
      SearchIndexMaintainer.processBatch(docFrame(ds), batchId, "doc_id", "text", postings)
    }
    h.call("streaming.ann_batch_ms") {
      AnnIndexMaintainer.processBatch(vecs.map { case (i, v) => (i, v.toSeq) }
        .toDF("doc_id", "embedding"), batchId, "doc_id", "embedding", cents, index)
    }
  }

  private def compact(h: Harness): Unit = h.call("streaming.compact_s") {
    SearchIndexMaintainer.compact(spark, "doc_id", postings)
    AnnIndexMaintainer.compact(spark, index)
  }

  def setup(h: Harness, dir: String): Unit = {
    session = h.spark
    if (this.dir != null) RecDb.deleteDir(this.dir)
    this.dir = dir
    ingested.clear(); ingestedText.clear()
    nextBatch = 0
    val spark = session
    import spark.implicits._
    val trainVecs = embed(h, initial)
    cents = Ann.ivfCentroidsFromDf(Ann.ivfTrain(
      trainVecs.map { case (i, v) => (i, v.toSeq) }.toDF("doc_id", "embedding"),
      "embedding", nlist = Cells, seed = 42L))
    ingest(h, initial, 0L, trainVecs)
    queryVecs = embed(h, queryDocs).toMap
    h.op("read")(hybrid(h, reads.head))
  }

  private def terms(d: Gen.Doc): Seq[String] = d.text.split(' ').toSeq.distinct

  /** One hybrid query: both legs' top-10 from the maintained state, fused.
    * Returns (sparse, dense, fused) as ranked (doc id, score) pairs.
    */
  private def hybrid(h: Harness, q: Int): (Seq[(Long, Double)], Seq[(Long, Double)], Seq[(Long, Double)]) = {
    val spark = session
    import spark.implicits._
    val d = queryDocs(q)
    val sparse = h.call("streaming.bm25_ms") {
      h.collect(SearchIndexMaintainer.search(spark, postings, "doc_id", terms(d), K))
    }.toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getAs[Number](2).longValue))
    val dense = h.call("streaming.knn_ms") {
      h.collect(AnnIndexMaintainer.search(spark, index, cents, Seq(d.id -> queryVecs(d.id)), K))
    }.toSeq.map(r => (r.getLong(1), r.getDouble(3), r.getAs[Number](2).longValue))
    val fused = h.call("ops.rrf_ms") {
      h.collect(TfIdf.rrfFuse(
        sparse.map { case (i, _, rk) => (d.id, i, rk) }.toDF("qid", "doc_id", "rank"),
        dense.map { case (i, _, rk) => (d.id, i, rk) }.toDF("qid", "doc_id", "rank"),
        "qid", "doc_id", K))
    }.toSeq.map(r => (r.getLong(1), r.getDouble(2)))
    val s2 = sparse.map(x => (x._1, x._2))
    val d2 = dense.map(x => (x._1, x._2))
    Checks.ranked(s2, K, corpusIds.contains, full = false)
    Checks.ranked(d2, K, corpusIds.contains, full = false)
    Checks.ranked(fused, K, corpusIds.contains, full = true)
    (s2, d2, fused)
  }

  def run(h: Harness, deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    val writer = () => {
      var i = 0
      var due = Stats.dueAt(t0, IntervalNs, i)
      while (due < deadlineNs && nextBatch < stream.size && Workload.waitFor(due, deadlineNs)) {
        val b = nextBatch
        nextBatch += 1
        h.op("write", due)(ingest(h, stream(b), 1L + b))
        if ((b + 1) % CompactEvery == 0) {
          val c0 = System.nanoTime()
          if (h.op("refresh")(compact(h))) h.sample("refresh_s", (System.nanoTime() - c0) / 1e9)
        }
        i += 1
        due = Stats.dueAt(t0, IntervalNs, i)
      }
    }
    val reader = () => {
      while (System.nanoTime() < deadlineNs) {
        val q = reads(nextRead % reads.size)
        h.op("read")(hybrid(h, q))
        nextRead += 1
      }
    }
    Workload.concurrently(writer, reader)
  }

  /** Second routes on the final state: the sparse leg against a one-shot
    * BM25 over every ingested document, the dense leg against an exact
    * driver-side scan of the probed cells.
    */
  def finalChecks(h: Harness): Unit = {
    val spark = session
    import spark.implicits._
    val corpusNow = ingestedText.asScala.toSeq.toDF("doc_id", "text")
    val cellOf = ingested.asScala.toSeq.map { case (id, v) =>
      (id, v, Ann.nearestCellsLocal(v, cents, 1).head)
    }
    sampled.foreach { q =>
      h.op("check") {
        val d = queryDocs(q)
        val (sparse, dense, _) = hybrid(h, q)
        val oneShot = TfIdf.bm25Search(corpusNow, "doc_id", "text", terms(d), K + 10)
          .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
        Checks.sameTopK(sparse, oneShot, K)
        val qv = queryVecs(d.id)
        val probe = Ann.nearestCellsLocal(qv, cents, Nprobe).toSet
        val qn = math.sqrt(qv.map(x => x * x).sum)
        val exact = cellOf.filter(c => probe.contains(c._3)).map { case (id, v, _) =>
          (id, v.zip(qv).map { case (a, b) => a * b }.sum / (qn * math.sqrt(v.map(x => x * x).sum)))
        }.sortBy { case (id, s) => (-s, id) }.take(K + 10).toSeq
        Checks.sameTopK(dense, exact, K)
      }
    }
  }
}

object PipelineHybrid {
  val Docs = 5000
  val Vocab = 3000
  val Queries = 200
  val InitialDocs = 2400
  val BatchDocs = 40
  val Dim = 16
  val Cells = 16
  val Nprobe = 4
  val K = 10
  val CompactEvery = 2
  /** Open-loop ingest rate: one batch every 2 s, which the writer sustains
    * through a compaction on a 4-core host.
    */
  val IntervalNs: Long = 2000L * 1000000L
}
