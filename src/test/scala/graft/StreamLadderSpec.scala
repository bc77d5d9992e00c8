package graft

import graft.streaming.StreamThroughput
import graft.streaming.StreamThroughput.StepResult
import org.scalatest.funsuite.AnyFunSuite

/**
 * StreamBench's ceiling rule ([[StreamThroughput.climb]]) driven by fake
 * steps, no Spark: doubling from 2,000 events/s, it stops at the first
 * step that falls behind (`job`), at the first whose feeder landed under
 * 90% of the offered rows (`feed`), or after 8 steps (`ladder`). The
 * latency StreamBench reports per job is picked from the same steps
 * ([[StreamThroughput.Ceiling.latencyStep]]).
 */
class StreamLadderSpec extends AnyFunSuite {

  private val FeedMs = 12000L

  /** A fake step at `rate`: the feeder lands `share` of the offered rows;
    * a sustained step drains inside budget, a fallen-behind one queues. */
  private def step(rate: Int, sustained: Boolean = true,
                   share: Double = 1.0): StepResult = {
    val fed = math.round(rate * FeedMs / 1000.0 * share)
    val drainMs = if (sustained) 1000L else 60000L
    StepResult("ingest", rate, eventsIn = fed, feedMs = FeedMs,
      drainMs = drainMs, ratePerSec = fed * 1000.0 / (FeedMs + drainMs),
      p95BatchMs = 500L, batches = 20, sustained = sustained, fed = fed)
  }

  /** Runs the ladder over a fake job and records the rates it asked for. */
  private def climb(fake: Int => StepResult)
      : (StreamThroughput.Ceiling, Seq[Int]) = {
    val asked = Seq.newBuilder[Int]
    val c = StreamThroughput.climb { r => asked += r; fake(r) }
    (c, asked.result())
  }

  test("ladder rule: the first step that falls behind stops a job-bound " +
    "ladder; the value is the highest sustained step") {
    val (c, asked) = climb(r => step(r, sustained = r < 96000))
    assert(asked == Seq(2000, 4000, 8000, 16000, 32000, 64000, 128000))
    assert(c.bound == "job")
    assert(c.steps.map(_.rate) == asked)
    assert(c.value == 64000L)
    // a job that sustains not even the first step reports 0
    val (first, firstAsked) = climb(r => step(r, sustained = false))
    assert(firstAsked == Seq(2000))
    assert(first.bound == "job" && first.value == 0L)
  }

  test("ladder rule: a sustained step whose feeder landed 83% of the " +
    "offer stops a feed-bound ladder; its value is the feeder's rate") {
    // the binary-ingest shape: 960,000 of 1,152,000 offered rows at 96k
    val (c, asked) = climb(r =>
      step(r, share = if (r >= 64000) 960000.0 / 1152000.0 else 1.0))
    assert(asked == Seq(2000, 4000, 8000, 16000, 32000, 64000))
    assert(c.bound == "feed")
    val top = c.steps.last
    assert(top.sustained && math.abs(top.feedShare - 0.8333) < 1e-3)
    assert(c.value == math.round(top.sustainedRate))
    assert(c.value < 64000L, "a feed-bound value is the feeder's rate")
    // falling behind names the job even when the feeder also ran short
    val (both, _) = climb(r => step(r, sustained = r < 8000,
      share = if (r >= 8000) 0.5 else 1.0))
    assert(both.bound == "job" && both.value == 4000L)
    // exactly 90% landed does not stop the ladder
    val (edge, _) = climb(r => step(r, share = 0.9))
    assert(edge.bound == "ladder")
  }

  test("ladder rule: a job that keeps pace on all 8 steps (2k..256k) is " +
    "ladder-capped") {
    val (c, asked) = climb(r => step(r))
    assert(asked == Seq(2000, 4000, 8000, 16000, 32000, 64000, 128000,
      256000))
    assert(c.bound == "ladder")
    assert(c.value == 256000L)
  }

  test("latency pick: the step at half the top sustained rate, the " +
    "first step when only it was sustained, none when no step was") {
    def pick(sustainedBelow: Int, share: Int => Double = _ => 1.0)
        : Option[Int] =
      StreamThroughput.climb(r => step(r, sustained = r < sustainedBelow,
          share = share(r)))
        .latencyStep.map(_.rate)
    // job-bound: 2k..64k sustained, 128k fell behind -> the 32k step
    assert(pick(96000).contains(32000))
    // only the first step sustained -> that step
    assert(pick(3000).contains(2000))
    // nothing sustained -> no latency
    assert(pick(0).isEmpty)
    // feed-bound: the short-fed 64k step was sustained, so it is the top
    assert(pick(Int.MaxValue, r => if (r >= 64000) 0.5 else 1.0)
      .contains(32000))
    // ladder-capped: top 256k -> 128k
    assert(pick(Int.MaxValue).contains(128000))
    // the picked step's own latency is what the ladder reports
    val c = StreamThroughput.Ceiling(Seq(2000, 4000).map(r =>
      step(r).copy(latency = StreamThroughput.LatencyResult(10L, r, r, r))),
      "job")
    assert(c.latencyStep.map(_.latencyJson).contains(
      """{"job":"ingest","rate":2000,"rows":10,"p50_ms":2000,""" +
        """"p95_ms":2000,"max_ms":2000}"""))
  }
}
