package graft.kinesis

import org.scalatest.funsuite.AnyFunSuite

/** The compiled half of the real-SDK transport seam: request-ordered
  * PutRecords entry outcomes → the sink's PutResult (failed / throttled
  * index sets, shard ids). The uncompiled SDK half (src/sdk) only unwraps
  * the response into these outcomes, so this spec covers every decision
  * the production transport makes.
  */
class AwsResultMappingSpec extends AnyFunSuite {
  import AwsResultMapping._

  private def ok(shard: String) = EntryOutcome(Some(shard), None)
  private def err(code: String) = EntryOutcome(None, Some(code))

  test("all-success response: no failures, shard ids in request order") {
    val r = toPutResult(Seq(ok("shardId-0"), ok("shardId-1"), ok("shardId-0")))
    assert(r.failedRecordCount === 0)
    assert(r.failedIndices.isEmpty && r.throttledIndices.isEmpty)
    assert(r.shardIds === Seq("shardId-0", "shardId-1", "shardId-0"))
  }

  test("mixed response: failed indices are positions, throttled a subset") {
    val r = toPutResult(Seq(
      ok("shardId-0"),                          // 0
      err(ThrottleErrorCode),                   // 1  throttled
      err("InternalFailure"),                   // 2  failed, not throttled
      ok("shardId-3"),                          // 3
      err(ThrottleErrorCode)))                  // 4  throttled
    assert(r.failedRecordCount === 3)
    assert(r.failedIndices === Seq(1, 2, 4))
    assert(r.throttledRecordCount === 2)
    assert(r.throttledIndices === Seq(1, 4))
    assert(r.shardIds === Seq("shardId-0", "shardId-3"))
    // the sink's contract: throttled ⊆ failed
    assert(r.throttledIndices.forall(r.failedIndices.contains))
  }

  test("whole-call throughput exception: every entry failed AND throttled") {
    val r = toPutResult(4,
      "software.amazon.awssdk.services.kinesis.model.ProvisionedThroughputExceededException")
    assert(r.failedRecordCount === 4)
    assert(r.failedIndices === (0 until 4))
    assert(r.throttledIndices === (0 until 4))
    assert(r.shardIds.isEmpty)
  }

  test("whole-call non-throttle exception: failed, back-off not engaged") {
    val r = toPutResult(3, "java.net.SocketTimeoutException")
    assert(r.failedRecordCount === 3)
    assert(r.failedIndices === (0 until 3))
    assert(r.throttledRecordCount === 0 && r.throttledIndices.isEmpty)
  }

  test("empty response maps to the zero result") {
    val r = toPutResult(Seq.empty)
    assert(r === PutResult(Seq.empty))
  }
}
