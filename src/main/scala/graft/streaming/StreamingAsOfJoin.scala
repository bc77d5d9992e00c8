package graft.streaming

import graft.ops.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/**
 * Streaming twin of [[graft.ops.AsOfJoin]] — ingest-time attribution
 * (click → last preceding view by the same user) with EXACT batch
 * semantics under any arrival order. A right row's match depends on the
 * latest left row AT OR BEFORE it, so an incremental "remember the last
 * left" fold is wrong the moment a left event arrives late: it would
 * attribute a click to a view that a still-in-flight earlier view should
 * have displaced — and, once emitted, never repair. The correct
 * streaming form is the same buffer-until-finalized shape as
 * [[StreamingFunnel]]/[[StreamingTransitions]] (the neighbor dependency
 * is the same): per-key events from BOTH sides accumulate in
 * `flatMapGroupsWithState` state and run through the shared
 * [[AsOfJoin.matchSeq]] chain — the batch operator's exact sort and tie
 * rules — emitting one attributed row per right event, append-mode.
 *
 * Finalization is by watermark PREFIX: every batch emits the matches of
 * the buffered right events older than the watermark (no in-bound
 * arrival can change them — any future event has ts ≥ watermark) and
 * prunes the buffer to the live suffix plus the newest below-watermark
 * left rows (the carry candidates future rights still need; ties at the
 * max ts all retained for matchSeq's id rule). A key idle for
 * `finalizeDelayMs` past its last event times out and flushes the rest.
 * State is therefore bounded by the WATERMARK HORIZON per key, not the
 * key's lifetime: a continuously-active key (one user receiving most of
 * the stream) never reaches the inactivity timeout, and an
 * inactivity-only buffer would grow with the stream (measured: 8.6 MB
 * after one 20 s feed at 90% single-user share, BASELINE.md r15).
 * Pruning costs no output under the watermark contract: an event with
 * ts below the watermark is dropped by the stateful operator's
 * late-input filter before any buffer, and any pruned left is strictly
 * older than the carried newest-below-watermark left, which an in-bound
 * right can never need (BASELINE.md r16 "Progressive as-of finalize":
 * identical to the inactivity-only form at every lateness rate/depth
 * measured). The horizon is the trade: a right event arriving after its
 * key finalized starts a fresh buffer and cannot see the previous
 * epoch's left rows (the streaming dedup documents the identical
 * bounded-state trade); size `watermarkDelay`/`finalizeDelayMs` to the
 * attribution window. Batch parity (cross-microbatch late left rows,
 * equal-ts ties, unmatched rights, lateness, restart) is pinned in
 * StreamingAsOfJoinSpec.
 *
 * Null handling: rows with a null key, null event time, or null id are
 * DROPPED on both sides before the typed cast. The JSON decode layer
 * deliberately passes valid-JSON-with-missing-fields rows through as
 * nulls; an unfiltered null here would throw at Dataset deserialization
 * and — because the poison row sits in the source — re-kill the job on
 * every checkpoint restart. The batch twin keeps null-key/ts rows (its
 * window just sorts them first), but a null event time is meaningless
 * under a watermark, so the streaming form treats all three as malformed
 * input, same as the decode layer's parse-error skip (SURVEY S4).
 * Pinned in StreamingAsOfJoinSpec.
 */
object StreamingAsOfJoin {

  /**
   * @param left    streaming frame providing the carried columns
   * @param right   streaming frame whose every row is emitted once
   * @param key     equi key column (both sides; cast to long)
   * @param ts      event-time column name (both sides)
   * @param leftId  left row id carried onto matches (null rows dropped,
   *                as in the batch operator)
   * @param rightId right row id preserved in the output
   * @return append-mode stream, one row per FINALIZED right row:
   *         (rightId, key, right ts as `ts`, leftId as
   *         `matched_<leftId>`, left ts as `matched_ts`, lag in ms) —
   *         the batch operator's exact output shape
   */
  def lastBeforeStream(left: DataFrame, right: DataFrame,
                       key: String, ts: String,
                       leftId: String, rightId: String,
                       watermarkDelay: String = "10 seconds",
                       finalizeDelayMs: Long = 10000L): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    // null key/ts/id rows dropped (see scaladoc): one poison row must not
    // permanently kill the job at deserialization on every restart
    val l = left.filter(col(leftId).isNotNull &&
        col(key).isNotNull && col(ts).isNotNull)
      .select(col(key).cast("long").as("k"), col(ts).as("t"),
        lit(true).as("isl"), col(leftId).cast("long").as("id"))
    val r = right.filter(col(rightId).isNotNull &&
        col(key).isNotNull && col(ts).isNotNull)
      .select(col(key).cast("long").as("k"), col(ts).as("t"),
        lit(false).as("isl"), col(rightId).cast("long").as("id"))
    // watermark AFTER the union so one horizon governs both sides (a
    // per-side watermark would anyway combine as the min; this keeps the
    // single knob explicit)
    val typed = l.unionByName(r)
      .withWatermark("t", watermarkDelay)
      .as[(Long, Timestamp, Boolean, Long)]
    // state carries (buffer, maxTs): the timeout horizon needs the key's
    // latest event time, and rescanning the whole buffer every microbatch
    // would cost O(B·n) on a hot key alive across B batches. Fresh rows
    // are PREPENDED (List :::) so the old buffer is shared, not copied —
    // matchSeq sorts, so buffer order is free.
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(List[(Long, Boolean, Long)], Long),
        (Long, Long, Timestamp, Option[Long], Option[Timestamp], Option[Long])](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(Long, Timestamp, Boolean, Long)],
         state: GroupState[(List[(Long, Boolean, Long)], Long)]) =>
          if (state.hasTimedOut) {
            val buf = state.get._1
            state.remove()
            AsOfJoin.matchSeq(buf).iterator.map { case (rid, rts, m) =>
              (rid, k, new Timestamp(rts), m.map(_._1),
                m.map(p => new Timestamp(p._2)), m.map(rts - _._2))
            }
          } else {
            val (old, oldMax) = state.getOption.getOrElse((Nil, Long.MinValue))
            val fresh = it.map(e => (e._2.getTime, e._3, e._4)).toList
            val maxTs = fresh.foldLeft(oldMax)((m, e) => math.max(m, e._1))
            val buf = fresh ::: old
            val wm = state.getCurrentWatermarkMs()
            val (emit, keep) =
              if (wm <= 0) (Nil, buf)
              else {
                // prefix-finalize: everything below the watermark is
                // immutable under in-bound arrivals — emit its rights,
                // retain only the newest below-watermark LEFT rows (all
                // ties at the max ts) as carry candidates for live rights
                val (done, live) = buf.partition(_._1 < wm)
                if (done.isEmpty) (Nil, buf)
                else {
                  val doneLeftTs = done.collect { case (t, true, _) => t }
                  val carry =
                    if (doneLeftTs.isEmpty) Nil
                    else {
                      val mx = doneLeftTs.max
                      done.filter(e => e._2 && e._1 == mx)
                    }
                  (AsOfJoin.matchSeq(done), live ::: carry)
                }
              }
            state.update((keep, maxTs))
            state.setTimeoutTimestamp(math.max(
              maxTs + finalizeDelayMs,
              state.getCurrentWatermarkMs() + 1))
            emit.iterator.map { case (rid, rts, m) =>
              (rid, k, new Timestamp(rts), m.map(_._1),
                m.map(p => new Timestamp(p._2)), m.map(rts - _._2))
            }
          }
      }
      .toDF(rightId, key, ts, s"matched_$leftId", "matched_ts", "lag_ms")
  }
}
