package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.algo.Superstep

/** Salted equi-join for power-law hub skew.
  *
  * The superstep gather join keys the (huge, static) edge table by one
  * endpoint and probes it with the (small, evolving) vertex state. On web
  * graphs a hub key can hold 10^7+ edge rows — hash partitioning sends them
  * all to ONE reducer, and with AQE disabled inside the loop (see
  * Superstep) nothing re-splits them. The classic fix, done once at plan
  * time because the edge table is iteration-invariant:
  *
  *  - detect hot keys (frequency > threshold) with one aggregation; the
  *    edge side's placement job (`Superstep.edgeSide`) already finds the
  *    largest key frequency, so uniform graphs never run it;
  *  - give the big side a salt column: `hash(otherCol) % k` for hot keys,
  *    0 otherwise, and pre-partition it by (key, salt);
  *  - per iteration, replicate only the state rows of hot keys k ways
  *    (hot-key count is small by definition — the replication join is a
  *    broadcast) and join on (key, salt).
  *
  * The vote/min/sum aggregations downstream are salt-oblivious because they
  * are associative and partially aggregated map-side.
  */
object SkewJoin {

  /** The iteration-invariant salted big side + its hot-key set. */
  final case class SaltPlan(
      salted: DataFrame,       // big side + `_salt`, partitioned by (key, _salt)
      hotKeys: DataFrame,      // one column `key` — broadcast-sized
      k: Int,
      keyCol: String,
      nHot: Long)

  /** Salt factor used when the caller asks for automatic skew handling. */
  val AutoK: Int = 16

  /** Build the salt plan for `big` keyed by `keyCol`; `spreadCol` feeds the
    * salt hash (any column uncorrelated with the key — e.g. the opposite
    * endpoint). Keys with more than `threshold` rows are hot. Returns None
    * when no key is hot — callers then keep the plain single-key
    * partitioning and pay zero per-iteration salting overhead.
    */
  def plan(big: DataFrame, keyCol: String, spreadCol: String,
           k: Int, threshold: Long): Option[SaltPlan] = {
    // the hot keys are counted by the job that fills their cache
    val hot = Superstep.fill(big.groupBy(col(keyCol)).agg(count(lit(1)).as("_freq"))
      .filter(col("_freq") > threshold)
      .select(col(keyCol).as("key")))
    if (hot.rows == 0) { hot.release(); return None }
    val salted = Superstep.fill(big
      .join(broadcast(hot.ds.withColumn("_hot", lit(true))),
        big(keyCol) === hot.ds("key"), "left_outer")
      .drop("key")
      .withColumn("_salt",
        when(col("_hot") === true, pmod(xxhash64(col(spreadCol)), lit(k)).cast("int"))
          .otherwise(lit(0)))
      .drop("_hot")
      .repartition(col(keyCol), col("_salt"))).ds
    Some(SaltPlan(salted, hot.ds, k, keyCol, hot.rows))
  }

  /** Join the salted big side with per-iteration `state` on
    * `keyCol == stateKey`: hot state rows are exploded into k salted
    * copies, cold rows carry salt 0. Output columns = salted big side
    * (minus `_salt`) ++ state columns (minus `stateKey`).
    */
  def joinState(p: SaltPlan, state: DataFrame, stateKey: String): DataFrame = {
    val salts = array((0 until p.k).map(lit): _*)
    val replicated = state
      .join(broadcast(p.hotKeys.withColumn("_hot", lit(true))),
        state(stateKey) === p.hotKeys("key"), "left_outer")
      .drop("key")
      .withColumn("_salt",
        explode(when(col("_hot") === true, salts).otherwise(array(lit(0)))))
      .drop("_hot")
    // replicated state = SHJ build side: joinState only runs on loop hot
    // paths, where broadcasts are banned (see Superstep.shj — without the
    // hint the ban also vetoes shuffled-hash and the join degrades to a
    // per-superstep sort-merge over the salted adjacency)
    p.salted.join(Superstep.shj(replicated),
        p.salted(p.keyCol) === replicated(stateKey) &&
          p.salted("_salt") === replicated("_salt"))
      .drop(p.salted("_salt")).drop(replicated("_salt"))
      .drop(replicated(stateKey))
  }
}
