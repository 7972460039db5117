package graft.score

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query-time value joins mirroring Lucene's JoinUtil semantics
  * (reference: SearchBucket.java:226-312, 602-614 — JoinUtil.createJoinQuery
  * collects the from-side's join-key values and matches to-side docs whose
  * key is in that set).
  *
  *  - ScoreMode.None  → a pure semi-join filter (parameters / user-access
  *    joins in the reference)
  *  - ScoreMode.Avg   → the from-side scores are averaged per join key and
  *    carried onto the to-side matches (the sample-text SHOULD join,
  *    SearchBucket.java:291-297)
  *
  * Both are single-shuffle DataFrame plans; Catalyst broadcasts the
  * from-side key set when it is small — exactly the shape of JoinUtil's
  * collected key set.
  */
object Joins {

  /** ScoreMode.None: keep `to` rows whose `toKey` appears among the
    * from-side keys. */
  def semiJoin(to: DataFrame, toKey: String, fromKeys: DataFrame, fromKey: String): DataFrame =
    to.join(fromKeys.select(col(fromKey).as("__jk")).distinct(),
      col(toKey) === col("__jk"), "left_semi")

  /** ScoreMode.None negated (MUST_NOT join legs). */
  def antiJoin(to: DataFrame, toKey: String, fromKeys: DataFrame, fromKey: String): DataFrame =
    to.join(fromKeys.select(col(fromKey).as("__jk")).distinct(),
      col(toKey) === col("__jk"), "left_anti")

  /** ScoreMode.Avg: average the from-side `score` per key and attach it to
    * matching to-side rows as `joinScore`. When the to-side row carries
    * its own `score`, the caller adds them (SHOULD-combination,
    * SearchBucket.java:291-297). */
  def avgScoreJoin(to: DataFrame, toKey: String,
                   fromScored: DataFrame, fromKey: String): DataFrame = {
    val avgScores = fromScored
      .groupBy(col(fromKey).as("__jk"))
      .agg(avg(col("score")).as("joinScore"))
    to.join(avgScores, col(toKey) === col("__jk"), "inner").drop("__jk")
  }

  /** Two-hop semi-join (the reference's InstrumentScientist →
    * InvestigationInstrument → Investigation chain,
    * SearchBucket.java:602-614): from ⟶ bridge ⟶ to. */
  def semiJoin2(to: DataFrame, toKey: String,
                bridge: DataFrame, bridgeFromKey: String, bridgeToKey: String,
                fromKeys: DataFrame, fromKey: String): DataFrame = {
    val hop1 = semiJoin(bridge, bridgeFromKey, fromKeys, fromKey)
    semiJoin(to, toKey, hop1, bridgeToKey)
  }

  /** Per-hit joined-entity fetch with a cap (reference: ≤100 related docs
    * per hit sorted by id, Lucene.java:869-901): returns `related` rows
    * matched to each hit key, at most `limit` per key by `idCol` asc.
    * `hits` holds each key at most once — the caller deduplicates (a
    * driver-side key list, or `.distinct()` on a distributed frame), so a
    * local key relation broadcasts without a shuffle. */
  def joinedFetch(hits: DataFrame, hitKey: String,
                  related: DataFrame, relatedKey: String,
                  idCol: String, limit: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = related.join(
      broadcast(hits.select(col(hitKey).as("__hk"))),
      col(relatedKey) === col("__hk")).drop("__hk")
    val w = Window.partitionBy(col(relatedKey)).orderBy(col(idCol).asc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= limit)
      .drop("__rn")
  }
}
