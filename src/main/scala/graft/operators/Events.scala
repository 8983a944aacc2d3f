package graft.operators

import graft.catalog.Lake
import graft.functions.hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event analytics over the events stream table — the batch halves of
  * the streaming pipelines in graft.streaming (identical semantics,
  * which is what makes them oracle-checkable).
  *
  * Reference analog: the vignettes' temporal aggregations
  * (retractions-by-year, patent-citations-by-year) generalized to
  * event-time windows, sessions, and funnels; JSON prop extraction
  * mirrors the reference's JSONL ingestion (convert_*.py).
  */
object Events {

  /** Tumbling 1h event-time windows per event type. In streaming form
    * this is `withWatermark + window` (EventStreams.windowedCounts);
    * grouping on the truncated hour keeps partial aggregation and the
    * shuffle carries only |windows x types| rows. */
  def evt01WindowedCounts(lake: Lake): DataFrame =
    lake.events
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value")
      )
      .orderBy("window_start", "event_type")

  /** Gap-based sessionization (30 min): lag + running sum of
    * session-start markers, all inside one per-user window partition.
    * The streaming twin is flatMapGroupsWithState
    * (EventStreams.sessionize). */
  def evt02Sessionization(lake: Lake, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMs = gapMinutes * 60000L
    val prevTs = lag(col("ts"), 1).over(byUser)
    val isNew = when(
      prevTs.isNull ||
        (unix_millis(col("ts")) - unix_millis(prevTs)) > gapMs,
      1L
    ).otherwise(0L)
    lake.events
      .withColumn("session_id", sum(isNew).over(byUser))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        round(
          (unix_millis(max("ts")) - unix_millis(min("ts"))).cast("double") /
            1000.0,
          4
        ).as("duration_secs")
      )
      .orderBy("user_id", "session_id")
  }

  /** JSON property extraction + aggregation (ingestion analog). */
  def evt03JsonExtract(lake: Lake): DataFrame =
    lake.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(avg("k"), 4).as("avg_k"),
        max("k").as("max_k")
      )
      .orderBy("event_type")

  /** Week-over-week retention: distinct active users per week joined
    * to the following week (cohort-style). */
  def evt05Retention(lake: Lake): DataFrame = {
    val weeks = lake.events
      .select(
        col("user_id"),
        weekofyear(col("ts")).cast("long").as("week")
      )
      .distinct()
    // (u2, wk): user u2 was active in week wk+1
    val next = weeks.select(
      col("user_id").as("u2"),
      (col("week") - 1).as("wk")
    )
    weeks
      .join(next, col("week") === col("wk") && col("user_id") === col("u2"), "left")
      .groupBy("week")
      .agg(
        count(lit(1)).as("active_users"),
        sum(when(col("u2").isNotNull, 1L).otherwise(0L)).as("retained_next_week")
      )
      .withColumn(
        "retention_rate",
        round(col("retained_next_week").cast("double") /
          col("active_users").cast("double"), 4)
      )
      .orderBy("week")
  }

  /** Sliding-window moving average: per event type, the 7-row moving
    * mean of daily sums (rows-between window frame). */
  def evt06MovingAvg(lake: Lake): DataFrame = {
    val daily = lake.events
      .groupBy(
        col("event_type"),
        date_trunc("day", col("ts")).as("day")
      )
      .agg(round(sum("value"), 4).as("daily_value"))
    val w = Window
      .partitionBy("event_type")
      .orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma7", round(avg("daily_value").over(w), 4))
      .orderBy("event_type", "day")
  }

  /** Ordered funnel: users whose first view precedes their first
    * click precedes their first purchase. */
  def evt04Funnel(lake: Lake): DataFrame =
    lake.events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase")
      )
      .filter(
        col("first_view").isNotNull &&
          col("first_click").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_view") < col("first_click") &&
          col("first_click") < col("first_purchase")
      )
      .orderBy("user_id")

  /** As-of join — the temporal primitive Spark's join operators lack:
    * for every purchase, the LATEST view by the same user at or
    * before the purchase instant (attribution's "last touch").
    *
    * Formulation: no join at all. Both sides union into one stream
    * tagged by kind, ONE shuffle on user_id, and a running
    * `last(ignoreNulls)` window carries the most recent view forward
    * onto each purchase row. This beats the per-key range-join
    * formulation at any scale: the window is a single sort within
    * partitions (no candidate blowup for hot users, no range-join
    * fallback to BNLJ), and it is exactly how the streaming twin
    * would run with mapGroupsWithState. Ordering (ts, kind, event_id)
    * pins the contract deterministically: views sort before purchases
    * at the same instant (>= semantics), equal-time views resolve to
    * the highest event_id. */
  def evt07AsofJoin(lake: Lake): DataFrame = {
    val ev = lake.events.select("event_id", "user_id", "ts", "event_type")
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("user_id"),
        col("ts"),
        col("event_id"),
        lit(0).as("kind"),
        col("event_id").as("view_id"),
        col("ts").as("view_ts")
      )
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("ts"),
        col("event_id"),
        lit(1).as("kind"),
        lit(null).cast("long").as("view_id"),
        lit(null).cast("timestamp").as("view_ts")
      )
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views
      .unionAll(purchases)
      .withColumn("matched_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .withColumn("matched_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("matched_view_id"),
        col("matched_view_ts"),
        (unix_micros(col("ts")) - unix_micros(col("matched_view_ts")))
          .as("gap_us")
      )
      .orderBy("purchase_id")
  }

  /** Most anomalous days per event type: top-k days ranked by
    * |daily count / long-run daily mean - 1|. Ratio-to-mean rather
    * than z-score by design: the mean is an exact integer sum over
    * one division (bit-stable across engines and partition orders),
    * where stddev accumulates doubles in merge order; ranking instead
    * of a fixed threshold keeps the report meaningful at any volume
    * (daily noise shrinks as 1/sqrt(n) with scale, so any fixed cut
    * either floods or empties). Two map-side-partial aggregations, a
    * broadcast of the tiny per-type stats frame, one |types|-way
    * partitioned window. */
  def evt08DailyAnomalies(lake: Lake, topK: Int = 3): DataFrame = {
    val daily = lake.events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val stats = daily
      .groupBy("event_type")
      .agg((sum("n_events").cast("double") / count(lit(1))).as("mu"))
    val w = Window
      .partitionBy("event_type")
      // deviation is computed on the ROUNDED ratio so the ordering
      // (and hence the top-k set) is identical in any engine; day
      // breaks exact-deviation ties deterministically
      .orderBy(abs(col("ratio") - 1).desc, col("day"))
    daily
      .join(broadcast(stats), "event_type")
      .withColumn("ratio", round(col("n_events") / col("mu"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(
        col("event_type"),
        col("day"),
        col("n_events"),
        round(col("mu"), 4).as("mean_daily"),
        col("ratio")
      )
      .orderBy("event_type", "day")
  }

  /** evt09: batch INTERVAL join — every view in the 30 minutes before
    * each purchase (evt07's as-of picks only the LAST one; attribution
    * models want them all). A naive `t1.ts BETWEEN t2.ts - w AND
    * t2.ts` join has no equality predicate, so Spark plans a
    * broadcast-nested-loop / cartesian — quadratic per user at scale.
    * The scale shape is TIME-BIN BUCKETING: bin = sec div w, each
    * purchase explodes to its two candidate bins (the window spans at
    * most two w-sized bins), views keep their one bin, and the join is
    * a plain equi-join on (user_id, bin) followed by the exact range
    * filter. Candidate volume is bounded by per-(user, bin) density —
    * the same argument as the LSH band joins; no pair is generated
    * twice because a view has exactly one bin. Plan-pinned: no BNLJ,
    * no cartesian. */
  def evt09IntervalJoin(lake: Lake, windowSec: Long = 1800L): DataFrame = {
    val ev = lake.events.select(
      col("event_id"),
      col("user_id"),
      unix_timestamp(col("ts")).as("sec"),
      col("event_type")
    )
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("user_id"),
        col("event_id").as("view_id"),
        col("sec").as("view_sec"),
        expr(s"sec div $windowSec").as("bin")
      )
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("sec").as("p_sec"))
      .withColumn(
        "bin",
        explode(array(
          expr(s"p_sec div $windowSec") - 1,
          expr(s"p_sec div $windowSec")))
      )
    purchases
      .join(views, Seq("user_id", "bin"))
      .filter(
        col("view_sec") >= col("p_sec") - windowSec &&
          col("view_sec") < col("p_sec"))
      .select(
        col("purchase_id"),
        col("view_id"),
        (col("p_sec") - col("view_sec")).as("sec_before")
      )
      .orderBy("purchase_id", "view_id")
  }

  /** The shared lateness frame (evt10's model): (event_id, ts, tus,
    * late_us) under the deterministic arrival stub and the sharded
    * two-level high-water mark. */
  private def latenessFrame(lake: Lake, shardUs: Long): DataFrame = {
    val delayUs =
      hashing.md5U32(md5(col("event_id").cast("string"))) % 7200L * 1000000L
    val ev = lake.events
      .select(
        col("event_id"),
        col("ts"),
        unix_micros(col("ts")).as("tus"),
        (unix_micros(col("ts")) + delayUs).as("aus")
      )
      .withColumn("shard", expr(s"aus div $shardUs"))
    val wIn = Window
      .partitionBy("shard")
      .orderBy("aus", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardMax = ev.groupBy("shard").agg(max("tus").as("smax"))
    val wSh = Window
      .orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardPrior = shardMax
      .withColumn("prior", max("smax").over(wSh))
      .select("shard", "prior")
    ev
      .withColumn("prev_in", max("tus").over(wIn))
      .join(broadcast(shardPrior), Seq("shard"))
      // greatest ignores nulls; both null (global first arrival) keeps
      // the condition null => otherwise(0): on time.
      .withColumn("hwm", greatest(col("prev_in"), col("prior")))
      .withColumn(
        "late_us",
        when(col("hwm") > col("tus"), col("hwm") - col("tus")).otherwise(0L)
      )
  }

  /** evt10: LATENESS PROFILE for watermark tuning — per event-time
    * day, how far behind the already-observed event-time high-water
    * mark events ARRIVE. THE question a streaming deployment must
    * answer before picking `withWatermark`: a 1-minute watermark drops
    * exactly the `n_late_1m` rows this report counts, so these
    * thresholds are the streaming module's configuration evidence,
    * computed in batch over history.
    *
    * The events table carries no ingest timestamp (event_id order IS
    * event-time order — zero disorder), so arrival is modeled by a
    * deterministic md5-derived ingest delay of 0..2h per event — the
    * bounded-disorder shape of a partitioned message bus. The delay
    * column is the STUB (emb01's contract): with a real ingest-time
    * column, `aus` is that column and nothing else changes.
    *
    * The high-water mark is a running max over GLOBAL arrival order —
    * the naive form is one corpus-wide window task. Same cure as
    * samp04's distributed prefix sum, for max: shard by arrival-time
    * bucket (`aus div shardUs`), per-shard running max (S-way parallel
    * windows), then a shard-level prefix max over the S-row header
    * frame broadcast back; bucketing by arrival TIME keeps
    * earlier-shard ⟹ earlier-arrival, so the two-level max is exactly
    * the global one. The header window runs on one partition by
    * construction — S rows, not the corpus. An event is compared
    * against STRICTLY EARLIER arrivals only (rowsBetween …, -1), so
    * the first arrival is never late. */
  def evt10LatenessProfile(
      lake: Lake,
      shardUs: Long = 21600000000L // 6h of arrival time per shard
  ): DataFrame = {
    latenessFrame(lake, shardUs)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        sum(when(col("late_us") >= 60L * 1000000L, 1L).otherwise(0L))
          .as("n_late_1m"),
        sum(when(col("late_us") >= 3600L * 1000000L, 1L).otherwise(0L))
          .as("n_late_1h"),
        round(max("late_us") / 1000000.0, 4).as("max_late_s")
      )
      .orderBy("day")
  }

  /** evt11: WATERMARK-DELAY tradeoff curve — the decision evt10's
    * profile feeds: for each candidate `withWatermark` delay D, how
    * many events Structured Streaming would DROP (an event is dropped
    * iff its event time is behind the watermark = observed high-water
    * mark − D, i.e. late_us > D) and the completeness that delay
    * buys. The operator answers "what is the smallest delay with
    * completeness ≥ my SLO" directly from history — delay IS the
    * result-staleness cost, so the curve is the whole tradeoff on
    * one axis each.
    *
    * Scale shape: the evt10 lateness frame (sharded two-level
    * high-water mark, never a corpus-wide window) folded by ONE
    * aggregation computing every candidate's drop count as
    * conditional sums (the eval05 stacked-threshold discipline — the
    * corpus never crosses the candidate table), then a |delays|-row
    * stack. */
  def evt11WatermarkCurve(
      lake: Lake,
      delaysSec: Seq[Long] = Seq(0L, 30L, 60L, 300L, 1800L, 3600L, 7200L),
      shardUs: Long = 21600000000L
  ): DataFrame = {
    // the curve is wired through per-candidate d<delay> column names:
    // duplicates would create ambiguous references, negatives would
    // parse as arithmetic, and an empty grid has no curve to stack
    require(delaysSec.nonEmpty, "watermark curve needs at least one candidate delay")
    require(delaysSec.forall(_ >= 0), s"negative watermark delay in $delaysSec")
    require(
      delaysSec.distinct == delaysSec,
      s"duplicate candidate delays in $delaysSec"
    )
    val lt = latenessFrame(lake, shardUs)
    val aggs = count(lit(1)).as("n") +: delaysSec.map(d =>
      sum(when(col("late_us") > d * 1000000L, 1L).otherwise(0L)).as(s"d$d")
    )
    val stackArgs =
      delaysSec.map(d => s"CAST($d AS BIGINT), d$d").mkString(", ")
    lt.agg(aggs.head, aggs.tail: _*)
      .select(
        col("n"),
        expr(
          s"stack(${delaysSec.size}, $stackArgs) AS (delay_s, n_dropped)"
        )
      )
      // empty-lake discipline: zero events degrade to zero rows, not
      // a null curve
      .filter(col("n") > 0)
      .select(
        col("delay_s"),
        col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n"), 4).as("drop_frac"),
        round(
          lit(1.0) - col("n_dropped").cast("double") / col("n"),
          4
        ).as("completeness")
      )
      .orderBy("delay_s")
  }
}
