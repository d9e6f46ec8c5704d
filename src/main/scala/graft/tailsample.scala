package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Tail-sampling analog (SURVEY.md §2.13 streaming semantics; ref fork-era
  * `processor/samplingprocessor/tailsamplingprocessor/
  * tail_sampling_processor.go` ≈L60–300): buffer all turns of a
  * conversation, wait `decision_wait` past the conversation's last event
  * time, then apply a sampling policy to the WHOLE conversation at once.
  *
  * Spark realization: `groupByKey(conv_id)` +
  * `flatMapGroupsWithState(EventTimeTimeout)`. State per conversation is the
  * running rollup (counts/min/max/set — O(1) per turn, NOT the buffered
  * turns: the policy here only needs aggregates, so state stays bounded even
  * for 500-turn conversations). When the watermark passes
  * `last_ts + decision_wait` the state times out → emit the decision row and
  * drop the state. Late turns past the watermark are dropped by the
  * watermark itself and counted upstream (§2.12 dropped counter).
  *
  * Policies mirror the reference's policy set: `always-error` (keep any
  * conversation with an error turn — the collector's `status_code` policy)
  * plus deterministic hash-percentage for the rest (`probabilistic` policy,
  * same bucket math as [[Sampler]]).
  */
object TailSample {

  final case class TurnLite(
      conv_id: String,
      err_code: String,
      tool_invoked: String,
      latency_ms: Long,
      ts: Timestamp)

  final case class ConvState(
      nTurns: Long,
      nErrors: Long,
      tools: Set[String],
      firstTsUs: Long,
      lastTsUs: Long,
      sumLatencyMs: Long)

  final case class ConvDecision(
      conv_id: String,
      n_turns: Long,
      n_errors: Long,
      n_tools_distinct: Int,
      first_ts: Timestamp,
      last_ts: Timestamp,
      sum_latency_ms: Long,
      sampled: Boolean)

  val DefaultPct = 10.0

  /** True microseconds since epoch — ms from getTime PLUS the sub-ms
    * nanos field, exactly `unix_micros`. The earlier `getTime * 1000`
    * truncated to ms, so a sub-ms timestamp made the streaming span
    * diverge from [[decideBatch]]'s `unix_micros` span at the Latency
    * policy boundary.
    */
  private[graft] def tsUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Fields `numeric_attribute` may target — the match arms in
    * [[evaluate]] and the rollup columns in [[decideBatch]], kept in sync
    * so the two paths accept exactly the same policy configs.
    */
  private[graft] val NumericFields: Set[String] =
    Set("n_turns", "n_errors", "n_tools_distinct", "sum_latency_ms")

  /** The reference's tail-sampling policy set as data (ref fork-era
    * `tail_sampling_processor.go` policy evaluators: `status_code`,
    * `latency`, `probabilistic`, `numeric_attribute`, `string_attribute`,
    * `rate_limiting`). A conversation is kept if ANY policy votes keep —
    * the reference's default OR combination. `rate_limiting` is not a
    * per-conversation predicate (it needs cross-conversation state) and is
    * modeled as the [[rateLimit]] post-decision operator instead.
    */
  sealed trait TailPolicy
  object TailPolicy {
    /** Keep conversations with ≥1 error turn (`status_code`). */
    case object StatusCode extends TailPolicy
    /** Keep conversations whose event-time span ≥ threshold (`latency`). */
    final case class Latency(minSpanUs: Long) extends TailPolicy
    /** Deterministic hash-percentage keep (`probabilistic`) — the same
      * 16384-bucket math as [[Sampler]], so batch head sampling and tail
      * sampling agree on every conv_id.
      */
    final case class Probabilistic(pct: Double, seed: Long = 22L) extends TailPolicy
    /** Keep if a rollup field lies in [min, max] (`numeric_attribute`).
      * Fields: n_turns, n_errors, n_tools_distinct, sum_latency_ms.
      */
    final case class NumericAttribute(field: String, min: Long, max: Long)
        extends TailPolicy
    /** Keep if the conversation invoked any of `values` (`string_attribute`
      * over the tool dimension).
      */
    final case class StringAttribute(values: Set[String]) extends TailPolicy
  }

  /** Evaluate one policy against a finished conversation's state. */
  def evaluate(convId: String, st: ConvState, p: TailPolicy): Boolean = p match {
    case TailPolicy.StatusCode => st.nErrors > 0
    case TailPolicy.Latency(us) => st.lastTsUs - st.firstTsUs >= us
    case TailPolicy.Probabilistic(pct, seed) =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val bytes = convId.getBytes("UTF-8")
      val h1 = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
      val h2 = XXH64.hashLong(seed, h1)
      math.floorMod(h2, Sampler.NumBuckets) <
        math.round(pct * (Sampler.NumBuckets / 100.0))
    case TailPolicy.NumericAttribute(field, min, max) =>
      val v = field match {
        case "n_turns" => st.nTurns
        case "n_errors" => st.nErrors
        case "n_tools_distinct" => st.tools.size.toLong
        case "sum_latency_ms" => st.sumLatencyMs
        case other => throw new IllegalArgumentException(
          s"numeric_attribute: unknown field '$other'")
      }
      v >= min && v <= max
    case TailPolicy.StringAttribute(values) => st.tools.exists(values)
  }

  /** OR-combine a policy list (reference default). */
  def decidePolicies(convId: String, st: ConvState,
                     policies: Seq[TailPolicy]): Boolean =
    policies.exists(evaluate(convId, st, _))

  /** Batch twin of the streaming decision path: evaluate the SAME policy
    * set over a parsed batch frame — the replay/backfill shape (re-decide
    * a historical corpus under a new policy without streaming it). One
    * hash aggregate per conversation (map-side partials; salt-free because
    * each policy is an algebraic aggregate), then narrow policy columns.
    * Output: conv rollup columns + `sampled`.
    */
  def decideBatch(parsed: DataFrame,
                  policies: Seq[TailPolicy]): DataFrame = {
    val spanUs = max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))
    val baseAggs = Seq(
      count(lit(1)).as("n_turns"),
      count_if(col("err_code").isNotNull).as("n_errors"),
      count_distinct(Aggregate.countedTool(col("tool_invoked")))
        .cast("int").as("n_tools_distinct"),
      sum(col("latency_ms")).as("sum_latency_ms"),
      min(col("ts")).as("first_ts"),
      max(col("ts")).as("last_ts"),
      spanUs.as("span_us"))
    // string_attribute policies fold into the SAME aggregate pass — one
    // boolean agg column per policy, no second scan
    val polAggs = policies.zipWithIndex.collect {
      case (TailPolicy.StringAttribute(vs), i) =>
        (count_if(col("tool_invoked").isin(vs.toSeq: _*)) > 0).as(s"_p$i")
    }
    val aggs = baseAggs ++ polAggs
    val rolled = parsed.groupBy(col("conv_id")).agg(aggs.head, aggs.tail: _*)
    val sampled = policies.zipWithIndex.map {
      case (TailPolicy.StatusCode, _) => col("n_errors") > 0
      case (TailPolicy.Latency(us), _) => col("span_us") >= us
      case (TailPolicy.Probabilistic(pct, seed), _) =>
        Sampler.keepPredicate(col("conv_id"), pct, seed)
      case (TailPolicy.NumericAttribute(f, min, max), _) =>
        // same whitelist as evaluate(): without it the batch twin would
        // accept field names the streaming evaluator rejects (or resolve
        // an unintended non-numeric rollup column)
        require(NumericFields(f), s"numeric_attribute: unknown field '$f'")
        col(f) >= min && col(f) <= max
      case (TailPolicy.StringAttribute(_), i) => col(s"_p$i")
    }.reduceOption(_ || _).getOrElse(lit(false))
    rolled.withColumn("sampled", sampled)
      .drop(policies.indices.map(i => s"_p$i"): _*)
  }

  /** `rate_limiting` policy analog: cap KEPT conversations per event-time
    * second of their last turn. The reference's limiter is a shared
    * wall-clock token bucket — mutable global state, nondeterministic
    * under replay; a distributed engine wants the deterministic
    * equivalent: rank kept conversations within their last-turn second
    * (stable conv_id order) and un-keep everything past `maxPerSecond`.
    * Deterministic ⇒ checkpoint-replayable and retry-stable.
    *
    * Scale: the window partitions by SECOND — per-second conversation
    * counts are bounded by arrival rate (≈10⁵/s at 10^12-turn/multi-month
    * scale), far under reducer capacity; kept rows sort first so the rank
    * never scans past the cap boundary's sort prefix.
    */
  def rateLimit(decisions: DataFrame, maxPerSecond: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerSecond > 0, "rate_limiting: maxPerSecond must be positive")
    val w = Window.partitionBy(date_trunc("second", col("last_ts")))
      .orderBy(col("sampled").desc, col("conv_id"))
    decisions.withColumn("_rk", row_number().over(w))
      .withColumn("sampled", col("sampled") && col("_rk") <= maxPerSecond)
      .drop("_rk")
  }

  /** The policy set, mirroring the reference's tail-sampling policies:
    * `status_code` (keep any conversation with an error turn), `latency`
    * (keep conversations whose event-time span ≥ threshold — the
    * slow-trace policy), and `probabilistic` for the rest. Probabilistic
    * replicates Sampler.keepPredicate's bucket math EXACTLY — Spark's
    * `xxhash64(conv_id, seed)` chains XXH64 over the arguments starting
    * from seed 42, so batch sampling and tail-sampling agree on every
    * conv_id (asserted in TailSampleSpec).
    */
  def decide(convId: String, st: ConvState, pct: Double, seed: Long,
             latencyKeepUs: Long = Long.MaxValue): Boolean =
    decidePolicies(convId, st, Seq(TailPolicy.StatusCode,
      TailPolicy.Latency(latencyKeepUs), TailPolicy.Probabilistic(pct, seed)))

  /** Streaming conversation assembler. `parsed` must be a streaming frame
    * that already carries the parse-stage columns and a watermark on `ts`.
    */
  def conversationDecisions(parsed: DataFrame,
                            decisionWait: String = "10 minutes",
                            pct: Double = DefaultPct,
                            seed: Long = 22L,
                            latencyKeepUs: Long = Long.MaxValue,
                            extraPolicies: Seq[TailPolicy] = Nil): Dataset[ConvDecision] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val waitUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(decisionWait))
    val waitMs = waitUs.microseconds / 1000L + waitUs.days * 86400000L

    parsed
      .select(col("conv_id"), col("err_code"), col("tool_invoked"),
        col("latency_ms"), col("ts"))
      .as[TurnLite]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, turns: Iterator[TurnLite], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(ConvDecision(convId, st.nTurns, st.nErrors,
              st.tools.size,
              new Timestamp(st.firstTsUs / 1000L), new Timestamp(st.lastTsUs / 1000L),
              st.sumLatencyMs,
              decide(convId, st, pct, seed, latencyKeepUs) ||
                decidePolicies(convId, st, extraPolicies)))
          } else {
            var st = state.getOption.getOrElse(
              ConvState(0L, 0L, Set.empty, Long.MaxValue, Long.MinValue, 0L))
            turns.foreach { t =>
              st = ConvState(
                st.nTurns + 1,
                st.nErrors + (if (t.err_code != null) 1L else 0L),
                if (t.tool_invoked != null && t.tool_invoked.nonEmpty &&
                    t.tool_invoked != "none") st.tools + t.tool_invoked else st.tools,
                math.min(st.firstTsUs, tsUs(t.ts)),
                math.max(st.lastTsUs, tsUs(t.ts)),
                st.sumLatencyMs + t.latency_ms)
            }
            state.update(st)
            // decision fires when the watermark passes last_ts + decision_wait
            state.setTimeoutTimestamp(st.lastTsUs / 1000L + waitMs)
            Iterator.empty
          }
        })(Encoders.product[ConvState], Encoders.product[ConvDecision])
  }

  /** Start the full streaming tail-sampling job: parse → assemble →
    * decisions appended to parquet. The decision table is the "sampled
    * traces" export of the reference.
    */
  def start(spark: org.apache.spark.sql.SparkSession, inputDir: String,
            outDir: String, checkpointDir: String,
            watermark: String = "10 minutes",
            decisionWait: String = "10 minutes",
            pct: Double = DefaultPct,
            latencyKeepUs: Long = Long.MaxValue) = {
    val stream = spark.readStream
      .schema(Schemas.turn)
      .parquet(inputDir)
      .withWatermark("ts", watermark)
    val decisions = conversationDecisions(
      Parse.parseGrok(stream), decisionWait, pct,
      latencyKeepUs = latencyKeepUs)
    decisions.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", s"$outDir/decisions")
      .start()
  }
}
