package graft.streaming

import graft.Schemas.{Event, UserStats}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Buffer for [[StreamOps.userRunningStats]] — top-level so the encoder's
  * generated code can construct it.
  */
final case class StatsState(n: Long, sum: Double, max: Double)

/** Structured Streaming surface (SURVEY.md §2b q_stream_*): file-source
  * streams over the events schema, watermarked windowed aggregations,
  * and watermark-scoped dedup.
  *
  * Design (100 TB / production shape): `readStream` file source with a
  * declared schema (no inference on the hot path), event-time watermarks
  * bounding all state, and the SAME aggregation cores as the batch
  * queries (graft.queries.TimeWindows) — batch/stream parity is a test
  * invariant, not an aspiration. State stores stay bounded because every
  * stateful op (window agg, session window, dedup) is watermark-scoped.
  */
object StreamOps {

  /** File-source stream of the parquet files under `dir`, at most
    * `maxFilesPerTrigger` files per micro-batch.
    */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling 1h count+sum per event_type with a watermark. */
  def tumbling(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    graft.queries.TimeWindows.tumbleAgg(events.withWatermark("ts", watermark))

  /** Sliding 1h/30min counts with a watermark. */
  def sliding(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    graft.queries.TimeWindows.slideAgg(events.withWatermark("ts", watermark))

  /** Per-user 30-min-gap session windows with a watermark. */
  def sessions(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    graft.queries.TimeWindows.sessionAgg(events.withWatermark("ts", watermark))

  /** Stream-static enrichment (the q_stream_enrich core) with a
    * watermark: the customer dimension stays a broadcast batch side —
    * re-read every micro-batch, which is exactly how a slowly-changing
    * dimension picks up updates between batches — while the windowed
    * aggregation's state is watermark-bounded.
    */
  def enriched(events: DataFrame, customer: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    graft.queries.TimeWindows.enrichAgg(
      events.withWatermark("ts", watermark), customer)

  /** Watermark-scoped exactly-once dedup on event_id: duplicates within
    * the watermark horizon are dropped; rows older than the watermark
    * are late and dropped entirely. State is bounded by the watermark
    * (vs unbounded dropDuplicates).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom stateful aggregation via flatMapGroupsWithState: running
    * per-user event count / mean / max maintained across micro-batches,
    * emitting the updated stats every batch (OutputMode.Update).
    *
    * This is the escape hatch for state machines watermark-windowed aggs
    * can't express; state here is tiny (3 numbers per user) and keyed by
    * user_id, so it shards across executors with the shuffle. A real
    * deployment adds `GroupStateTimeout.EventTimeTimeout` + watermark to
    * retire idle users; the no-timeout form keeps the test deterministic.
    */
  /** Shared state fold for the running-stats variants: consume this
    * batch's rows into the running aggregate, tracking the max event
    * time seen (for the expiring variant's timeout deadline).
    */
  private def foldStats(prev: Option[StatsState],
      rows: Iterator[Event]): (StatsState, Long) = {
    var s = prev.getOrElse(StatsState(0L, 0.0, Double.MinValue))
    var maxTsMs = Long.MinValue
    rows.foreach { e =>
      s = StatsState(s.n + 1, s.sum + e.value, math.max(s.max, e.value))
      maxTsMs = math.max(maxTsMs, e.ts.getTime)
    }
    (s, maxTsMs)
  }

  def userRunningStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[StatsState, UserStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[StatsState]) =>
          val (s, _) = foldStats(state.getOption, rows)
          state.update(s)
          Iterator.single(UserStats(uid, s.n, s.sum / s.n, s.max))
      }
  }

  /** [[userRunningStats]] with state retirement: the production form.
    * Watermark + `EventTimeTimeout` retire a user whose last event is
    * `timeoutAfter` behind the watermark — without this, per-key state
    * grows with the key universe forever (the state-bounding story at
    * 100 TB: idle keys must leave the store). A retired user is emitted
    * once as a tombstone (`n = 0`); if they return, stats restart from
    * zero.
    *
    * Timeout mechanics: the timeout fires in the first micro-batch
    * AFTER the watermark (computed at the previous batch's end) passes
    * last-event-time + timeoutAfter, and only for keys with no new data
    * in that batch — keys with data just extend their deadline.
    */
  def userRunningStatsExpiring(events: Dataset[Event], watermark: String = "1 hour",
      timeoutAfter: String = "2 hours"): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StatsState, UserStats](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[StatsState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.single(UserStats(uid, 0L, 0.0, 0.0)) // tombstone
          } else {
            val (s, maxTsMs) = foldStats(state.getOption, rows)
            state.update(s)
            state.setTimeoutTimestamp(maxTsMs, timeoutAfter)
            Iterator.single(UserStats(uid, s.n, s.sum / s.n, s.max))
          }
      }
  }

  /** Stream-stream inner join with event-time range constraint: each
    * purchase joins signups of the same user within `horizon` BEFORE the
    * purchase. Both sides are watermarked, and the time-range predicate
    * is what lets Spark BOUND the join state (without it, both sides'
    * state grows forever — the stream-stream analogue of the as-of
    * join's no-pair-blow-up rule).
    */
  def purchaseSignupJoin(events: DataFrame, watermark: String = "1 hour",
      horizon: String = "24 hours", joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions._
    val purchases = events.withWatermark("ts", watermark)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val signups = events.withWatermark("ts", watermark)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    purchases.join(signups,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"),
      joinType)
  }

  /** LEFT OUTER stream-stream join: every purchase emits — with its
    * in-horizon signup when one exists, or null-padded once the
    * watermark proves no matching signup can still arrive (outer rows
    * are withheld until then; that is what makes the null decision
    * correct rather than racy). Same bounded-state shape as
    * [[purchaseSignupJoin]].
    */
  def purchaseSignupLeftJoin(events: DataFrame, watermark: String = "1 hour",
      horizon: String = "24 hours"): DataFrame =
    purchaseSignupJoin(events, watermark, horizon, joinType = "left_outer")

  /** Run a streaming DataFrame into an in-memory table and block until
    * all currently-available input is processed. Used by parity tests
    * and as the reference pattern for a real sink (`format("parquet")`
    * + checkpointLocation in production).
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String,
      checkpoint: String): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .start()
    q.processAllAvailable()
    q
  }
}
