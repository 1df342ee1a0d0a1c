package graft.functions

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** A scored hit — `topk_agg_<k>`'s output element (best-first). */
final case class TopHit(cos: Double, id: Long)

/** Top-k-per-key as a TRUE partial aggregate: `topk_agg_<k>(cos, id)`
  * keeps each group's k best (cos DESC, id ASC) hits in a bounded
  * buffer.
  *
  * Scale shape — why this beats the `row_number() OVER (PARTITION BY
  * key ORDER BY …) <= k` idiom: the window shuffles EVERY candidate row
  * to its key's partition and sorts them all, so a 10¹⁰-candidate
  * re-rank moves 10¹⁰ rows. This aggregate's state is k rows; map-side
  * combine reduces each partition's candidates to one k-buffer per key
  * before the shuffle, making the exchange O(keys × k) — independent of
  * candidate count — and no sort ever sees more than 2k rows.
  *
  * Result parity: selection by the TOTAL order (cos DESC, id ASC) is
  * input-order-independent and tie-free, so the output is row-identical
  * to the window form (pinned in TopKAggSpec and by x_sim_topk's
  * unchanged DuckDB hash gate).
  */
final case class TopKAgg(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[TopHit]] {

  /** (cos DESC, id ASC): is `a` a strictly better hit than `b`? */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Seq[(Double, Long)] = Vector.empty

  // buffer kept sorted best-first and bounded at k: with serving-sized
  // k (5..100) linear insertion beats heap constant factors
  override def reduce(buf: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
    if (buf.size >= k && !better(x, buf.last)) buf
    else {
      val i = buf.indexWhere(better(x, _)) match { case -1 => buf.size; case j => j }
      (buf.take(i) :+ x) ++ buf.drop(i).take(k - i - 1)
    }

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    b.foldLeft(a)(reduce)

  override def finish(buf: Seq[(Double, Long)]): Seq[TopHit] =
    buf.map { case (c, i) => TopHit(c, i) }

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[TopHit]] = ExpressionEncoder[Seq[TopHit]]()
}

object TopKAgg {
  /** Register the k-specific `topk_agg_<k>(cos, id)` and return the
    * name — only the sized name exists, for the same cross-build-race
    * reason as [[MinHashAgg.register]]. */
  def register(spark: SparkSession, k: Int): String =
    graft.GraftExtensions.registerOnce(spark, s"topk_agg_$k")(udaf(TopKAgg(k)))

  /** The shared final-re-rank shape: `scored` (key, id, score, …) →
    * (key, rank 1..k, id, score), row-identical to
    * `row_number() OVER (PARTITION BY key ORDER BY score DESC, id ASC)
    * <= k` but via the partial aggregate — every ANN/BM25 serving path
    * ends in this call, so none of them shuffles its full candidate set
    * through a window. */
  def topkOf(scored: org.apache.spark.sql.DataFrame, key: String, id: String,
      score: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val name = register(scored.sparkSession, k)
    scored.groupBy(key).agg(expr(s"$name($score, $id)").as("tk"))
      .select(col(key), posexplode(col("tk")).as(Seq("pos", "hit")))
      .select(col(key), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as(id), col("hit.cos").as(score))
  }
}

/** An ordered hit — `mink_agg_<k>`'s output element (smallest-first). */
final case class MinHit(h: Long, id: Long)

/** k-smallest-per-key by the TOTAL order (h ASC, id ASC) as a TRUE
  * partial aggregate — [[TopKAgg]]'s integer-keyed sibling for
  * cap-per-key selection (e.g. "keep N docs per domain in deterministic
  * md5 order"). Same scale shape: bounded k-row state, map-side combine,
  * the exchange is O(keys × k) however many rows each key holds — a
  * per-key `row_number()` window would shuffle AND sort every row of the
  * biggest domain instead. Keeping the order key an exact Long (not a
  * Double score) matters: 60-bit hashes don't fit a double mantissa, so
  * a TopKAgg reuse would tie-break wrongly on hash pairs closer than
  * 2^-53 of each other. */
final case class MinKAgg(k: Int)
    extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[MinHit]] {

  /** (h ASC, id ASC): is `a` strictly ahead of `b`? */
  private def ahead(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Seq[(Long, Long)] = Vector.empty

  override def reduce(buf: Seq[(Long, Long)], x: (Long, Long)): Seq[(Long, Long)] =
    if (buf.size >= k && !ahead(x, buf.last)) buf
    else {
      val i = buf.indexWhere(ahead(x, _)) match { case -1 => buf.size; case j => j }
      (buf.take(i) :+ x) ++ buf.drop(i).take(k - i - 1)
    }

  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    b.foldLeft(a)(reduce)

  override def finish(buf: Seq[(Long, Long)]): Seq[MinHit] =
    buf.map { case (h, i) => MinHit(h, i) }

  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long)]]()
  override def outputEncoder: Encoder[Seq[MinHit]] = ExpressionEncoder[Seq[MinHit]]()
}

object MinKAgg {
  /** Register the k-specific `mink_agg_<k>(h, id)` and return the name. */
  def register(spark: SparkSession, k: Int): String =
    graft.GraftExtensions.registerOnce(spark, s"mink_agg_$k")(udaf(MinKAgg(k)))

  /** (key, rank 1..k, id, ord) — row-identical to `row_number() OVER
    * (PARTITION BY key ORDER BY ord ASC, id ASC) <= k` via the partial
    * aggregate. */
  def minkOf(df: org.apache.spark.sql.DataFrame, key: String, id: String,
      ord: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val name = register(df.sparkSession, k)
    df.groupBy(key).agg(expr(s"$name($ord, $id)").as("mk"))
      .select(col(key), posexplode(col("mk")).as(Seq("pos", "hit")))
      .select(col(key), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as(id), col("hit.h").as(ord))
  }
}
