package graft.recdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** One view version held in driver arrays for job-free point reads. User
  * keys ascend; user `users(i)`'s rows are `offsets(i) until offsets(i+1)`
  * of `items`/`scores`, ranked by score descending, then item ascending —
  * the order [[Recommender.recommendTopK]]'s Spark paths sort by. 16 bytes
  * per view row plus 12 per user.
  */
final class ResidentTopK private (users: Array[Long], offsets: Array[Int],
    items: Array[Long], scores: Array[Double]) {

  /** The user's top-k as a local relation of at most k (user, item, score)
    * rows over `output`, already in order: the rows are built straight from
    * the arrays, and Catalyst plans a LocalTableScan, so collecting runs no
    * job. A user absent from the view gets the empty relation.
    */
  def topK(output: Seq[Attribute], user: Long, k: Int): LocalRelation = {
    val u = java.util.Arrays.binarySearch(users, user)
    val from = if (u < 0) 0 else offsets(u)
    val n = if (u < 0) 0 else math.min(k, offsets(u + 1) - from)
    LocalRelation(output,
      (from until from + n).map(j => InternalRow(user, items(j), scores(j))))
  }
}

object ResidentTopK {

  /** Largest view kept resident: one row per 4 KiB of the driver's max
    * heap (786k rows on a 3 GB heap). Measured loading a 780k-row view
    * (local[4], 4-core host, 3 GB heap, 4 loads): the index keeps 16.6-16.9
    * bytes per row, and the live heap after GC peaked 421-459 bytes per row
    * above its baseline during the load — mostly the one sort task's
    * buffers and its partition's serialized result, which share the
    * JVM's heap in local mode (a global sort, range-partitioned over
    * four tasks, peaked 334-358). So a load at the cap peaks near 1/9 of
    * the heap, and all [[Recommender.ServedViewBound]] entries at the cap
    * keep under 1/15 of it.
    */
  val RowCap: Int =
    math.min(Int.MaxValue - 1L, Runtime.getRuntime.maxMemory / 4096).toInt

  /** Index `view` — (user, item, score), the layout
    * [[Recommender.materializeView]] writes. Spark sorts it in one task
    * (one job; a global sort would sample ranges and shuffle first), and
    * its rows stream straight into the arrays, so no collected copy of the
    * view is ever held. None when it holds more than `cap` rows (the stream
    * stops at row cap + 1) or a null, which the Spark-path sort would place
    * by its own null ordering.
    */
  def load(view: DataFrame, cap: Int): Option[ResidentTopK] = {
    val Array(u, i, s) = view.columns
    val it = view.coalesce(1).sortWithinPartitions(col(u), col(s).desc, col(i))
      .toLocalIterator()
    val users = Array.newBuilder[Long]
    val offsets = Array.newBuilder[Int]
    val items = Array.newBuilder[Long]
    val scores = Array.newBuilder[Double]
    var n = 0
    var last = 0L
    var fits = true
    while (fits && it.hasNext) {
      val r = it.next()
      if (n == cap || r.anyNull) fits = false
      else {
        if (n == 0 || r.getLong(0) != last) {
          last = r.getLong(0); users += last; offsets += n
        }
        items += r.getLong(1); scores += r.getDouble(2); n += 1
      }
    }
    if (!fits) None
    else {
      offsets += n
      Some(new ResidentTopK(users.result(), offsets.result(), items.result(),
        scores.result()))
    }
  }
}
