package graft.streaming

import graft.operators.Cep
import graft.operators.Cep.PartialMatch
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** C1 (streaming form) — the reference's MATCH_RECOGNIZE as a Structured
  * Streaming operator (kinesis-studio-notebook/notebook.txt:47-68),
  * generic over [[Cep.PatternSpec]]: per key, pattern
  * `A B{minB,maxB} C WITHIN interval`, AFTER MATCH SKIP PAST LAST ROW,
  * with arbitrary A/B/C predicates — the same pattern surface as the
  * batch [[Cep.matchesPattern]], so the funnel shape proven in
  * `c8_cep_funnel` (and any other spec) runs live. The reference treats
  * MATCH_RECOGNIZE as a *streaming* operator; this is its generic form.
  *
  * Engine shape: the spec's predicate Columns are evaluated IN THE PLAN
  * (a projection before `groupByKey` — codegen'd, no closure capture of
  * Catalyst trees), yielding a typed event with isA/isB/isC booleans.
  * `flatMapGroupsWithState` with event-time timeout then drives
  * [[Cep.Machine]] — the same per-event transition the batch
  * [[Cep.matchesPattern]] runs in its sorted pass: per-key state is one
  * partial match (pending A + ≤maxB buffered B events). The WITHIN
  * clause doubles as the state TTL: once the watermark passes
  * A + within, the partial match can never complete, so the state store
  * stays O(keys × maxB) regardless of stream length — the property that
  * lets this run indefinitely on an unbounded 100 TB/day stream.
  *
  * Equivalence to the window-function formulation
  * ([[Cep.matchesBatch]]): classification first (B wins; non-B rows are
  * boundaries), so rows strictly between consecutive boundaries are all
  * B and every candidate match is a consecutive-boundary pair — two
  * candidates overlap only by sharing an endpoint. The greedy machine
  * (emit and consume C; a consumed C starts nothing) therefore takes
  * positions 1,3,5,… of every endpoint-chain — exactly the window
  * form's gaps-and-islands parity. StreamingCepSpec asserts parity
  * on the sandwich AND funnel shapes, single- and multi-batch.
  *
  * Ordering (C2): the reference orders by processing time; its measures
  * use event_time, so results agree whenever arrival is in order.
  * Events are sorted by (event_time, event_id) within each micro-batch;
  * cross-batch reordering is not repaired (documented divergence,
  * matching at-most-once arrival order of a Kinesis shard).
  *
  * Measure semantics replicate the batch forms bit for bit:
  * decimal(18,2) exact accumulation for the average, half-up rounding
  * to 2 decimals, elapsed = half-up seconds between A and C. A NULL
  * value or event time is refused, as in the batch forms.
  */
object CepStream {

  final case class SensorEvent(
      sensor_id: String,
      event_time: Timestamp,
      temperature: Double,
      status: String,
      event_id: Long)

  final case class CepMatch(
      sensor_id: String,
      event_time: Timestamp,
      non_errors: Long,
      history: String,
      min_temperature: Double,
      avg_temperature: Double,
      max_temperature: Double,
      elapsed: Long)

  /** The FULL match vocabulary — every [[graft.operators.Cep.MatchMeasures]]
    * quantity, emitted by the state machine so a caller-supplied
    * measures clause can project it after the fact (Columns cannot run
    * inside flatMapGroupsWithState; a post-projection over this record
    * can). `b_sum` is the exact 2-dp decimal the batch operator
    * accumulates; [[CepMatch]] is one fixed projection of this. */
  final case class CepMatchVocab(
      key: String,
      a_time: Timestamp, a_value: Double, a_status: String,
      c_time: Timestamp, c_value: Double, c_status: String,
      b_count: Long,
      b_min: Option[Double], b_max: Option[Double],
      b_sum: Option[java.math.BigDecimal],
      b_history: Seq[String],
      total_rows: Long,
      min_value: Double, max_value: Double, avg_value: Double,
      elapsed_seconds: Long)

  /** A pattern-classified event: the spec's predicates evaluated in the
    * plan, null-coalesced to false. `_s` keeps the raw status string
    * for the `history` measure. */
  final case class ClassifiedEvent(
      _k: String,
      _t: Timestamp,
      _v: Double,
      _s: String,
      _id: Long,
      _isA: Boolean,
      _isB: Boolean,
      _isC: Boolean)

  /** Full-precision instant of a Timestamp in microseconds. */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  final case class Params(
      errorValue: String = "ERROR",
      maxB: Int = 5,
      withinMicros: Long = 60000000L) // WITHIN INTERVAL '1' MINUTES

  private def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def emit(key: String, st: PartialMatch,
      cTimeMicros: Long, cValue: Double, cStatus: String): CepMatchVocab = {
    // least/greatest over A, C and the (possibly empty — minB=0) B run;
    // batch's least()/min() ignore the null b_min the same way
    val lo = (st.aValue :: cValue :: st.bValues).min
    val hi = (st.aValue :: cValue :: st.bValues).max
    val total = st.bValues.size + 2
    val bSum = st.bSum
    val sum = Cep.d2(st.aValue) + Cep.d2(cValue) + bSum.getOrElse(BigDecimal(0))
    val avg = math.floor((sum.toDouble / total) * 100 + 0.5) / 100.0
    val elapsed = math.floor((cTimeMicros - st.aTimeMicros) / 1000000.0 + 0.5).toLong
    CepMatchVocab(
      key = key,
      a_time = toTimestamp(st.aTimeMicros), a_value = st.aValue, a_status = st.aStatus,
      c_time = toTimestamp(cTimeMicros), c_value = cValue, c_status = cStatus,
      b_count = st.bValues.size.toLong,
      b_min = st.bMin,
      b_max = st.bMax,
      b_sum = bSum.map(_.bigDecimal),
      b_history = st.bHistory,
      total_rows = total.toLong,
      min_value = lo, max_value = hi, avg_value = avg,
      elapsed_seconds = elapsed)
  }

  /** [[CepMatch]] is the fixed default projection of the vocabulary. */
  private def toCepMatch(v: CepMatchVocab): CepMatch = CepMatch(
    sensor_id = v.key,
    event_time = v.a_time,
    non_errors = v.b_count,
    history = v.b_history.mkString("-"),
    min_temperature = v.min_value,
    avg_temperature = v.avg_value,
    max_temperature = v.max_value,
    elapsed = v.elapsed_seconds)

  /** The streaming side of [[Cep.Machine]]: one key's micro-batch,
    * sorted by (event_time, event_id), stepped through the shared
    * transition from the key's stored partial match; the partial match
    * left over is stored with the WITHIN horizon as its timeout.
    */
  private def stepPattern(machine: Cep.Machine, streaming: Boolean)(
      key: String, events: Iterator[ClassifiedEvent],
      state: GroupState[PartialMatch]): Iterator[CepMatchVocab] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var st: Option[PartialMatch] = state.getOption
    val out = List.newBuilder[CepMatchVocab]

    events.toSeq.sortBy(e => (micros(e._t), e._id)).foreach { e =>
      val t = micros(e._t)
      st = machine.step(st, t, e._v, e._s, e._isA, e._isB, e._isC) { pm =>
        out += emit(key, pm, t, e._v, e._s)
      }
    }

    st match {
      case Some(pm) =>
        val expiryMillis = pm.aTimeMicros / 1000L + machine.withinMicros / 1000L + 1L
        val wm = if (streaming) state.getCurrentWatermarkMs() else 0L
        if (streaming && wm >= expiryMillis) {
          // the pending A is already beyond the WITHIN horizon (any
          // completing C would be late past the watermark) — drop it
          // now; updating instead would also crash setTimeoutTimestamp,
          // which rejects timestamps at or below the watermark
          if (state.exists) state.remove()
        } else {
          state.update(pm)
          // state TTL = the WITHIN horizon: after that no C can
          // complete this match without being late beyond the
          // watermark. (Batch execution has no watermark — timeouts
          // never fire there.) Clamped above the current watermark for
          // partial matches created just inside the horizon.
          if (streaming)
            state.setTimeoutTimestamp(math.max(expiryMillis, wm + 1L))
        }
      case None =>
        if (state.exists) state.remove()
    }
    out.result().iterator
  }

  /** Generic streaming MATCH_RECOGNIZE: any [[Cep.PatternSpec]] over a
    * streaming (or batch) DataFrame with the columns named by `p`.
    * Streaming input gets a watermark on the event time (bounds state
    * via the WITHIN TTL); batch input runs the same state machine in
    * one pass per key — the same operator serves the continuous and the
    * ad-hoc form. Output keeps the measure names of
    * [[Cep.matchesPattern]] (the key arrives as a string).
    *
    * Memory shape: streaming STATE is O(keys × maxB), but each
    * invocation buffers its micro-batch's per-key events for the
    * in-batch sort — fine for micro-batches, whereas the batch form
    * hands one invocation a key's FULL history. For batch input use
    * [[Cep.matchesPattern]]: it runs the same [[Cep.Machine]] over one
    * spilling sort by (key, time, id) and streams each key's rows, so
    * its per-key memory stays O(maxB); the batch mode here exists for
    * parity testing and moderate ad-hoc runs.
    */
  def matchesPattern(df: DataFrame, p: Cep.Params, spec: Cep.PatternSpec,
      watermarkDelay: String = "10 seconds"): Dataset[CepMatch] = {
    val spark = df.sparkSession
    import spark.implicits._
    matchesPatternVocab(df, p, spec, watermarkDelay).map(toCepMatch)
  }

  /** The generic streaming operator with a caller-supplied MEASURES
    * clause — the streaming twin of the batch
    * `Cep.matchesPattern(df, p, spec, measures)`. The state machine
    * emits the full [[CepMatchVocab]]; the measures project it in the
    * plan after the stateful operator (still streaming-legal — a
    * stateless projection over an Append-mode stream). `key` arrives
    * as string (the state-machine grouping key); cast in the measures
    * when the domain key is numeric. */
  def matchesPatternMeasures(df: DataFrame, p: Cep.Params, spec: Cep.PatternSpec,
      measures: Cep.MatchMeasures => Seq[org.apache.spark.sql.Column],
      watermarkDelay: String = "10 seconds"): DataFrame = {
    val m = Cep.MatchMeasures(
      key = col("key"),
      aTime = col("a_time"), aValue = col("a_value"), aStatus = col("a_status"),
      cTime = col("c_time"), cValue = col("c_value"), cStatus = col("c_status"),
      bCount = col("b_count"),
      bMin = col("b_min"), bMax = col("b_max"),
      // the vocab encoder widens BigDecimal to (38,18); restore the
      // batch operator's exact accumulation type
      bSum = col("b_sum").cast("decimal(18,2)"),
      bHistory = col("b_history"),
      totalRows = col("total_rows"),
      minValue = col("min_value"), maxValue = col("max_value"),
      avgValue = col("avg_value"),
      elapsedSeconds = col("elapsed_seconds"))
    matchesPatternVocab(df, p, spec, watermarkDelay).toDF().select(measures(m): _*)
  }

  private def matchesPatternVocab(df: DataFrame, p: Cep.Params, spec: Cep.PatternSpec,
      watermarkDelay: String): Dataset[CepMatchVocab] = {
    val spark = df.sparkSession
    import spark.implicits._
    val streaming = df.isStreaming
    // predicate evaluation stays in the plan (codegen'd); only scalar
    // pattern parameters cross into the executor closure
    val classified = df.select(
      col(p.key).cast("string").as("_k"),
      Cep.timeCol(p).as("_t"),
      Cep.valueCol(p).as("_v"),
      col(p.status).cast("string").as("_s"),
      col(p.id).cast("long").as("_id"),
      coalesce(spec.a, lit(false)).as("_isA"),
      coalesce(spec.b, lit(false)).as("_isB"),
      coalesce(spec.c, lit(false)).as("_isC")).as[ClassifiedEvent]
    val withWm =
      if (streaming) classified.withWatermark("_t", watermarkDelay)
      else classified
    // copy the scalars OUT of the spec before building the closure:
    // referencing spec.minB inside would make scalac capture the whole
    // PatternSpec — whose Columns are not serializable
    val machine = Cep.Machine(spec.minB, spec.maxB, spec.withinMicros)
    withWm
      .groupByKey(_._k)
      .flatMapGroupsWithState[PartialMatch, CepMatchVocab](
        OutputMode.Append,
        if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout)(
        stepPattern(machine, streaming))
  }

  /** The reference's ERROR-sandwich as an instance of the generic
    * operator — [[Cep.errorSandwichSpec]] over the fixed SensorEvent
    * column names. (Rounds ≤8 hardcoded this state machine; it is now
    * one PatternSpec instantiation.) */
  def matches(events: Dataset[SensorEvent], p: Params = Params(),
      watermarkDelay: String = "10 seconds"): Dataset[CepMatch] = {
    val bp = batchParams(p)
    matchesPattern(events.toDF(), bp, Cep.errorSandwichSpec(bp), watermarkDelay)
  }

  /** The batch emulation's params for the same semantics, for parity
    * checks against operators/Cep.matchesBatch. */
  def batchParams(p: Params): Cep.Params =
    Cep.Params("sensor_id", "event_time", "temperature", "status", "event_id",
      errorValue = p.errorValue, maxB = p.maxB, withinMicros = p.withinMicros)

  /** Run the DuckDB-oracle-checked batch emulation over the same typed
    * events, for cross-checking the two formulations (SURVEY §2.7 C1:
    * "Implement both; cross-check on same input"). */
  def matchesBatchEmulation(events: Dataset[SensorEvent], p: Params = Params()): DataFrame =
    Cep.matchesBatch(events.toDF(), batchParams(p))
}
