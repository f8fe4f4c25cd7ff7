package graft.kinesis

/** Pure mapping from an AWS `PutRecords` response shape to [[PutResult]] —
  * the compiled, unit-tested half of the real-SDK transport seam.
  *
  * The AWS SDK is not resolvable in this offline build, so the ~25-line
  * network half lives as an optional source file
  * (`src/sdk/scala/graft/kinesis/AwsSdkTransport.scala`, see TUNING.md) a
  * deployment adds together with the `kinesis` SDK jar. That file only
  * unwraps `PutRecordsResponse` into the per-entry `(shardId, errorCode)`
  * pairs this object consumes, so everything with decision content — which
  * entries count as failed, which failures count as throttles, what the
  * sink's selective retry sees — is THIS function, compiled and tested
  * offline.
  *
  * Field semantics (public PutRecords API contract, mirrored by the
  * reference's whole-call check at
  * `/root/reference/src/main/scala/com/audienceproject/aws/kinesis/KinesisWriter.scala:208-213`):
  * results arrive in request order; a succeeded entry carries `shardId`
  * (+ sequence number), a failed one carries `errorCode`/`errorMessage`
  * instead, and `ProvisionedThroughputExceededException` is the error code
  * the adaptive throttle must back off on.
  */
object AwsResultMapping {

  /** Per-record outcome as the SDK reports it: exactly one of `shardId`
    * (success) or `errorCode` (failure) is present. */
  final case class EntryOutcome(shardId: Option[String], errorCode: Option[String])

  val ThrottleErrorCode = "ProvisionedThroughputExceededException"

  /** Fold request-ordered entry outcomes into the sink's [[PutResult]],
    * which reports failures by position only: `failedIndices` are the
    * positions to rebuild and resend, `throttledIndices` the subset whose
    * shards the token bucket penalizes (and that retry on their ORIGINAL
    * explicit hash key so the halved budget actually paces the hot shard). */
  def toPutResult(outcomes: Seq[EntryOutcome]): PutResult = {
    val shardIds = outcomes.flatMap(_.shardId)
    val failed = outcomes.zipWithIndex.collect {
      case (EntryOutcome(_, Some(_)), i) => i
    }
    val throttled = outcomes.zipWithIndex.collect {
      case (EntryOutcome(_, Some(code)), i) if code == ThrottleErrorCode => i
    }
    PutResult(shardIds, failed, throttled)
  }

  /** Whole-call failure (SDK threw before a response existed — connection
    * reset, 5xx after SDK-internal retries, credentials): every position
    * is in `failedIndices`, and `LimitExceededException`/throughput-shaped
    * throwables are treated as throttles so the back-off still engages. */
  def toPutResult(entryCount: Int, exceptionClass: String): PutResult = {
    val all = 0 until entryCount
    val throttle = exceptionClass.contains("ProvisionedThroughputExceeded") ||
      exceptionClass.contains("LimitExceeded")
    PutResult(Seq.empty, all, if (throttle) all else Seq.empty)
  }
}
