package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expression of the reference's incremental loop
  * (SURVEY.md §2.8, ST3 "v2"): the 120-minute tumbling period becomes an
  * event-time window + watermark; the 3-block ingestion lag becomes the
  * watermark delay; cross-batch dedup state (ST5) is demonstrated with
  * `flatMapGroupsWithState` for the one shape that genuinely needs managed
  * state — sessionization — while the sync itself stays anti-join-based
  * (exactly-once-friendly, no state store growth).
  */
/** Open-session state carried across micro-batches (kept top-level so its
  * Catalyst encoder codegen can instantiate it).
  */
case class SessionState(startMs: Long, endMs: Long, numEvents: Long, totalValue: Double)

/** Open run (consecutive equal markers) carried across micro-batches —
  * the streaming half of `Dedup.collapseConsecutive`.
  */
case class RunState(marker: String, headId: Long, headVal: Double,
    n: Long, startUs: Long, endUs: Long)

/** Last-seen event type per entity, carried across micro-batches — the
  * streaming half of `Analytics.markovTransitions`.
  */
case class LastTypeState(marker: String, lastUs: Long, lastId: Long)

/** One observed transition step (the unit the Markov matrix counts). */
case class TransitionStep(user_id: Long, from_type: String, to_type: String)

object StreamingOps {

  /** Schema-pinned streaming read of an events-shaped parquet directory.
    * (Streaming reads must declare the schema up front.)
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
      "value DOUBLE, props STRING"
    spark.readStream.schema(schema).parquet(dir)
  }

  /** ST3 as a stream: tumbling event-time windows with a watermark standing
    * in for the reference's fixed ingestion lag.
    */
  def periodAggregates(
      events: DataFrame,
      window_ : String = "120 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,2)")).cast("double").as("value_sum"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("value_sum"))

  // --- sessionization via managed state (ST5 demonstration) ----------------

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** One key's micro-batch rows in event-time order, ties by event id. */
  private def inEventOrder(rows: Iterator[Event]): Seq[Event] =
    rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))

  case class FunnelState(step: Int, lastUs: Long)
  case class FunnelProgress(user_id: Long, step: Int, event_type: String)

  /** Streaming conversion funnel: emits one row whenever a user advances
    * to the next step (an event of the required type strictly after the
    * previous step's qualifying time). Greedy first-qualifying-event
    * equals the batch operator's earliest-qualifying-event
    * (`Analytics.funnel`) when each user's events are processed in
    * event-time order — within a micro-batch the group is sorted here;
    * across batches the source must deliver per-user in order (an
    * event-time-ordered append log). State per key is O(1): the current
    * step index and one timestamp.
    */
  def funnelStream(events: Dataset[Event],
      steps: Seq[String]): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = inEventOrder(rows)
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = Seq.newBuilder[FunnelProgress]
          for (e <- sorted) {
            if (st.step < steps.length && e.event_type == steps(st.step) &&
                (st.step == 0 || micros(e.ts) > st.lastUs)) {
              st = FunnelState(st.step + 1, micros(e.ts))
              out += FunnelProgress(userId, st.step, e.event_type)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class EwmaState(s: Double, n: Long)
  case class EwmaPoint(user_id: Long, n: Long, ewma: Double)

  /** Streaming EWMA: the incremental form of `Analytics.ewma` — O(1)
    * state per key (the running smoothed value and a count), folded
    * forward each micro-batch and emitted after every batch that touches
    * the key. The per-step arithmetic (`x·alpha + s·(1−alpha)`, same
    * operation order) is identical to the batch fold, so when events
    * arrive per-key in event-time order across batches the final
    * emission per key is bit-equal to the batch result — the unbounded-
    * history shape the batch operator's collected list cannot cover.
    */
  def ewmaStream(events: Dataset[Event], alpha: Double): Dataset[EwmaPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          val sorted = inEventOrder(rows)
          var st = state.getOption.getOrElse(EwmaState(0.0, 0L))
          for (e <- sorted)
            st = EwmaState(e.value * alpha + st.s * (1.0 - alpha), st.n + 1)
          state.update(st)
          Iterator(EwmaPoint(userId, st.n, st.s))
      }
  }

  case class HwState(l: Double, b: Double, n: Long, s: Seq[Double])
  case class HwPoint(user_id: Long, n: Long, level: Double, trend: Double,
    forecast: Double)

  /** Streaming Holt–Winters additive smoothing: the incremental form of
    * `Analytics.holtWinters` — O(period) state per key (level, trend,
    * count, seasonal slots), folded forward each micro-batch and emitted
    * after every batch that touches the key. Per-step arithmetic is the
    * batch fold's EXPRESSIONS spelled in the same operation order (all
    * smoothing constants dyadic, so the float ops are exact matches):
    * in-order arrival across any micro-batch slicing gives bit-equal
    * finals to the batch operator.
    */
  def holtWintersStream(events: Dataset[Event], alpha: Double,
      beta: Double, gamma: Double, period: Int): Dataset[HwPoint] = {
    require(period >= 2)
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[HwState, HwPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[HwState]) =>
          val sorted = inEventOrder(rows)
          var st = state.getOption.getOrElse(
            HwState(0.0, 0.0, 0L, Seq.fill(period)(0.0)))
          for (e <- sorted) {
            val j = (st.n % period).toInt
            val sj = st.s(j)
            val x = e.value
            // identical op order to Analytics.hwStepExprs
            val nl = if (st.n == 0L) x
              else alpha * (x - sj) + (1 - alpha) * (st.l + st.b)
            val nb = if (st.n == 0L) 0.0
              else beta * (nl - st.l) + (1 - beta) * st.b
            st = HwState(nl, nb, st.n + 1L,
              st.s.updated(j, gamma * (x - nl) + (1 - gamma) * sj))
          }
          state.update(st)
          Iterator(HwPoint(userId, st.n, st.l, st.b,
            st.l + st.b + st.s((st.n % period).toInt)))
      }
  }

  case class CusumState(s: Double, m: Double, n: Long)
  case class CusumPoint(user_id: Long, n: Long, cusum_end: Double, cusum_max: Double)

  /** Streaming one-sided CUSUM against a FIXED reference (mu, kappa) —
    * the deployment shape of drift detection: the baseline is profiled
    * offline (the batch operator's exact scaled-long stats), the stream
    * folds O(1) state per key (current statistic, running max, count)
    * and emits after every touching batch; an alert fires on the first
    * emission whose max crosses the decision threshold. Identical
    * per-step arithmetic to `Analytics.cusum`, so in-order arrival gives
    * bit-equal finals across any micro-batch slicing.
    */
  def cusumStream(events: Dataset[Event], mu: Double,
      kappa: Double): Dataset[CusumPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CusumState]) =>
          val sorted = inEventOrder(rows)
          var st = state.getOption.getOrElse(CusumState(0.0, 0.0, 0L))
          for (e <- sorted) {
            val s = math.max(0.0, st.s + e.value - mu - kappa)
            st = CusumState(s, math.max(st.m, s), st.n + 1)
          }
          state.update(st)
          Iterator(CusumPoint(userId, st.n, st.s, st.m))
      }
  }

  /** Gap-based sessions per user: a session closes after `gapMinutes` of
    * silence (flushed via processing-time timeout). State per key is O(1).
    *
    * `timeoutMinutes <= 0` disables the idle flush (NoTimeout): open
    * sessions stay in the state store. That is the DRAIN mode for
    * `Trigger.AvailableNow` — with a processing-time timeout registered,
    * the micro-batch loop keeps scheduling empty batches to service the
    * future deadline and the query never self-terminates (it would spin
    * hundreds of no-op epochs until killed). Live queries keep the
    * default flush.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30,
      timeoutMinutes: Long = 30): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    val gst = if (timeoutMinutes > 0) GroupStateTimeout.ProcessingTimeTimeout
              else GroupStateTimeout.NoTimeout

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, gst) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, fromMicros(s.startMs), fromMicros(s.endMs),
              s.numEvents, s.totalValue))
          } else {
            val sorted = inEventOrder(rows)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.endMs <= gapUs =>
                  cur = Some(s.copy(endMs = t, numEvents = s.numEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  closed += Session(userId, fromMicros(s.startMs),
                    fromMicros(s.endMs), s.numEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeoutMinutes > 0) state.setTimeoutDuration(timeoutMinutes * 60000L)
            }
            closed.result().iterator
          }
      }
  }

  case class Run(user_id: Long, event_id: Long, event_type: String,
      value: Double, n_in_run: Long, ts_start: Timestamp, ts_end: Timestamp)

  /** Streaming event-stream compaction — `Dedup.collapseConsecutive` on
    * an unbounded log: per key, runs of equal markers fold into one open
    * run in the state store (O(1) per key); a marker change emits the
    * closed run downstream, and idle keys flush on the processing-time
    * timeout. The telemetry-ingest dedup that cuts repeated identical
    * readings at the edge, BEFORE they ever land in storage.
    */
  def collapseStream(events: Dataset[Event],
      timeoutMinutes: Long = 30): Dataset[Run] = {
    val spark = events.sparkSession
    import spark.implicits._
    // <= 0 -> NoTimeout drain mode: see sessionize — a registered
    // processing-time deadline keeps AvailableNow spinning no-op batches
    val gst = if (timeoutMinutes > 0) GroupStateTimeout.ProcessingTimeTimeout
              else GroupStateTimeout.NoTimeout

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, Run](
        OutputMode.Append, gst) {
        (userId: Long, rows: Iterator[Event], state: GroupState[RunState]) =>
          def toRun(s: RunState): Run =
            Run(userId, s.headId, s.marker, s.headVal, s.n,
              fromMicros(s.startUs), fromMicros(s.endUs))
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(toRun(s))
          } else {
            val sorted = inEventOrder(rows)
            var cur = state.getOption
            val closed = Seq.newBuilder[Run]
            for (e <- sorted) {
              val t = micros(e.ts)
              cur match {
                case Some(s) if s.marker == e.event_type =>
                  cur = Some(s.copy(n = s.n + 1, endUs = t))
                case Some(s) =>
                  closed += toRun(s)
                  cur = Some(RunState(e.event_type, e.event_id, e.value, 1, t, t))
                case None =>
                  cur = Some(RunState(e.event_type, e.event_id, e.value, 1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeoutMinutes > 0) state.setTimeoutDuration(timeoutMinutes * 60000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Batch-mode sessionization with identical semantics (window over event
    * gaps) — the oracle for the streaming path, and itself a useful
    * operator (used by the `sessionize` query).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Long = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapSec = gapMinutes * 60.0
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          (col("ts").cast("double") - col("prev_ts").cast("double")) > gapSec).cast("int"))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,2)")).cast("double").as("total_value"))
      .drop("session_seq")
  }

  /** Exact streaming dedup on a key: state-store-backed drop of duplicate
    * keys across micro-batches, with the watermark bounding state size
    * (keys older than the watermark are evicted — without it the state
    * grows with every distinct key ever seen, which cannot run forever).
    * The streaming form of `Dedup.exact` for an ingest pipeline.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream inner join: correlate two event streams on
    * a key within a bounded event-time band (here: each error joined to
    * the clicks of the same user in the preceding `bandMinutes`). The
    * time-band condition + watermarks are what make unbounded-stream join
    * state finite: each side buffers only rows young enough to still
    * find a partner, and the watermark evicts the rest.
    */
  def correlateStreams(left: DataFrame, right: DataFrame, key: String,
      bandMinutes: Int = 60, watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("__rk"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    l.join(r,
      col(key) === col("__rk") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"interval $bandMinutes minutes"))
      .drop("__rk")
  }

  /** Streaming twin of `Joins.intervalOverlapJoin`: interval × interval
    * overlap (half-open `[start, end)` both sides) as a watermarked
    * stream-stream join. The batch kernel's shape carries over intact —
    * both sides explode into covered time bins, hash-join on the bin,
    * and keep each matching pair only in its FIRST shared bin (an exact
    * local predicate, so no distinct shuffle and no duplicate emits even
    * when a pair shares many bins across micro-batches: the first-bin
    * rows of both sides land in the same join-state key exactly once).
    *
    * What bounds the state: intervals longer than `maxLenMinutes` are
    * dropped up front (an unbounded interval would have to wait in join
    * state forever), and for intervals of length ≤ L any overlapping
    * pair satisfies `|lEnd - rEnd| < L` — so the join carries that band
    * as a time-range condition on the two watermarked end columns and
    * Spark evicts each buffered row once the opposite watermark passes
    * its band. State per side ≈ (rows arriving within watermark+L) ×
    * bins-per-interval, independent of stream lifetime.
    */
  def intervalOverlapStream(left: DataFrame, lStart: String, lEnd: String,
      right: DataFrame, rStart: String, rEnd: String,
      binMinutes: Int = 60, maxLenMinutes: Int = 240,
      watermark: String = "30 minutes"): DataFrame = {
    val binUs = binMinutes * 60L * 1000000L
    val maxLen = expr(s"interval $maxLenMinutes minutes")
    def binned(df: DataFrame, s: String, e: String, p: String) = df
      // empty intervals overlap nothing (and would explode descending
      // bin sequences); overlong intervals would pin join state forever
      .where(col(e) > col(s) && col(e) <= col(s) + maxLen)
      .withWatermark(e, watermark)
      .withColumn(s"${p}su", unix_micros(col(s)))
      .withColumn(s"${p}eu", unix_micros(col(e)))
      .withColumn(s"${p}f", floor(col(s"${p}su") / binUs))
      .withColumn(s"${p}bin", explode(sequence(
        col(s"${p}f"),
        floor((col(s"${p}eu") - 1) / binUs))))
    val lb = binned(left, lStart, lEnd, "__l")
    val rb = binned(right, rStart, rEnd, "__r")
    // The overlap inequalities stay OUT of the join condition: Spark's
    // StreamingJoinHelper attempts a state-watermark constraint for
    // every cross-side inequality in the condition and WARNs (with an
    // INTERNAL_ERROR stack) on each one it cannot solve, per micro-batch.
    // Only the end-column band — which it CAN solve, and which drives
    // eviction — belongs there. The overlap check runs as a post-join
    // filter on candidate pairs (bin-bounded, so this is the cheap
    // verify step); the UDF is semantically deterministic and is marked
    // non-deterministic ONLY to stop the optimizer pushing it back into
    // the join condition.
    val overlapOk = udf((lsu: Long, reu: Long, rsu: Long, leu: Long) =>
      lsu < reu && rsu < leu).asNondeterministic()
    lb.join(rb,
        col("__lbin") === col("__rbin") &&
          col("__lbin") === greatest(col("__lf"), col("__rf")) &&
          // the ≤-maxLen length bound implies |lEnd-rEnd| < maxLen for
          // every true overlap; stating it on the watermarked end
          // columns is what lets the engine age join state out
          col(rEnd) > col(lEnd) - maxLen && col(rEnd) < col(lEnd) + maxLen)
      .where(overlapOk(col("__lsu"), col("__reu"), col("__rsu"), col("__leu")))
      .drop("__lbin", "__rbin", "__lf", "__rf", "__lsu", "__leu", "__rsu", "__reu")
  }

  /** Windowed mergeable distinct-count sketches on a stream: per tumbling
    * window and group, an HLL sketch of the value column (binary, kB-sized,
    * union-able later across windows / streams / the batch history — the
    * streaming half of `Sketches.distinctSketch`). State per window is the
    * sketch itself, so unbounded key cardinality never grows the state
    * store beyond O(windows × groups × kB); the watermark closes windows.
    */
  def sketchDistinctStream(
      events: DataFrame, groupCol: String, valueCol: String,
      window_ : String = "120 minutes",
      watermark: String = "10 minutes", lgK: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .select(col("window.start").as("w_start"), col(groupCol),
        hll_sketch_estimate(col("sketch")).as("approx_distinct"),
        col("sketch"))

  /** Deterministic streaming Bloom bit-set maintenance: maintains the
    * SAME per-group set-bit table as `Sketches.bloomMembership` derives
    * — the per-row position projection is the shared batch kernel
    * (`Sketches.bloomPositions`) and the combine is set union (a bit is
    * set iff ANY row set it), associative and order-free, so after any
    * micro-batch each group's bit set equals the batch build over
    * everything seen (pinned by the streaming==batch spec). State is
    * bounded at groups × mBits rows forever, and the bits are
    * engine-portable period state: persist (group, pos) per period and
    * any system that can union integer sets merges the filters —
    * the "have we already ingested this?" pre-screen kept live.
    */
  def bloomBitsStream(events: DataFrame, groupCol: String, keyCol: String,
      mBits: Int = 1024, kHashes: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .select(col(groupCol),
        explode(graft.ext.Sketches.bloomPositions(
          col(keyCol).cast("long"), mBits, kHashes)).as("pos"))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n_setters"))
  }

  /** Deterministic streaming histogram-quantile sketch: maintains the
    * SAME nBins bin-count table as `Sketches.histogramQuantiles`' second
    * pass, incrementally, over a grid PINNED up front — a stream has no
    * two-pass min/max, so the sink fixes (lo, span) from a prior period
    * or the schema contract (the production shape) and the combine is
    * `sum`: associative and order-free, so after any micro-batch the
    * bins equal the batch build over everything seen in-range
    * (out-of-grid values are counted in the guard row `bin = -1` rather
    * than silently dropped). State is bounded at nBins+1 rows forever;
    * like `Sketches.hllRegisters` run on a stream, the bins are
    * engine-portable period state
    * (merge = cell-wise add), and the quantile read-off is the same
    * nBins-row computation downstream.
    */
  def histogramBinStream(events: DataFrame, gridExpr: Column,
      lo: Long, span: Long, nBins: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(span > 0 && nBins >= 2)
    require(lo <= Long.MaxValue - (span - 1), "grid upper bound overflows")
    events.select(gridExpr.cast("long").as("gv")).where(col("gv").isNotNull)
      .groupBy(
        // upper bound as lo + (span - 1): `lo + span` itself can wrap
        // when the grid ends exactly at Long.MaxValue
        when(col("gv") < lo || col("gv") > lo + (span - 1), lit(-1L))
          // decimal product: (gv - lo) * nBins wraps silently on wide
          // grids (span near Long.Max / nBins) — same fix as the batch
          // kernel in Sketches.histogramQuantiles
          .otherwise(expr(
            s"CAST(gv - ${lo}L AS DECIMAL(38,0)) * $nBins div ${span}L"))
          .as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming calibration-bin maintenance —
    * `Eval.calibrationBins` / `expectedCalibrationError`'s state half on
    * an unbounded scored log: per (slice, bin) the three ORDER-FREE sums
    * (count, positives, per-term-round(6) DECIMAL score sum). All three
    * merges are associative and commutative, so after any micro-batch
    * the state equals the batch build over everything seen; the ECE
    * read-off downstream is the same |n_pos − s|/N collapse over the
    * (slices × nBins)-row state — which is also the forever bound on
    * state size. Null scores/labels are excluded (the batch kernel's
    * rule), so a late or replayed row can never bend a bin silently.
    */
  def calibrationBinStream(scored: DataFrame, sliceExpr: Column,
      scoreExpr: Column, labelExpr: Column, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nBins > 0)
    val base = scored.select(sliceExpr.as("slice"),
      scoreExpr.cast("double").as("__sc"),
      labelExpr.cast("boolean").as("__y"))
    base.where(col("__sc").isNotNull && col("__y").isNotNull)
      .groupBy(col("slice"),
        least(floor(col("__sc") * nBins), lit(nBins - 1.0)).cast("long")
          .as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__y").cast("long")).as("n_pos"),
        sum(round(col("__sc"), 6).cast("decimal(30,6)")).as("s"))
  }

  /** Streaming Markov transition steps — `Analytics.markovTransitions`'
    * pairing half on an unbounded log: per entity the state store keeps
    * ONLY the last seen event type (O(1) per key, forever), and each
    * arriving event emits its (from, to) step downstream, where any
    * order-free count aggregation maintains the transition matrix. A
    * transition spanning two micro-batches is paired correctly because
    * the previous batch's tail type is in the state. Null types are
    * dropped before pairing (the batch kernel's rule).
    */
  def markovPairsStream(events: Dataset[Event]): Dataset[TransitionStep] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(e => e.event_type != null)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTypeState, TransitionStep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[LastTypeState]) =>
          val sorted = inEventOrder(rows)
          val out = Seq.newBuilder[TransitionStep]
          var last = state.getOption
          for (e <- sorted) {
            last.foreach(l => out += TransitionStep(userId, l.marker, e.event_type))
            last = Some(LastTypeState(e.event_type, micros(e.ts), e.event_id))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming PII audit: per-group counts of every PII category over a
    * document stream — `Pii.detect`'s zero-shuffle row-local projection
    * composed with a sum aggregation (associative, order-free), so after
    * any micro-batch the table equals the batch audit over everything
    * seen. State is one row of longs per group, forever — the ingestion-
    * time scrub monitor a corpus pipeline keeps next to its source feed.
    */
  def piiAuditStream(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val det = graft.ext.Pii.detect(docs, idCol, textCol)
    val sums = graft.ext.Pii.categories.map { case (n, _, _) =>
      sum(col(s"n_$n")).as(s"n_$n")
    } :+ sum(col("n_pii")).as("n_pii") :+ count(lit(1)).as("n_docs")
    det.groupBy(col(groupCol)).agg(sums.head, sums.tail: _*)
  }

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream without any stream-side state. The static side is re-planned
    * per micro-batch (so dim updates are picked up) and broadcast, so the
    * stream never shuffles — the streaming form of the reference's
    * in-memory dimension cache (`app/db/id_index.py:18-25`).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys)
}
