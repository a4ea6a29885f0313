package graft.model

/**
 * Uniform time-bucket grid.
 *
 * Exact semantics parity with the reference
 * (core/metrics-model/.../Buckets.java:39-51,77-88,120-175):
 *  - `getIndex(ts) = (ts - start) / step` (integer division)
 *  - `fromCount` prefers `quotient + 1` as the step when the remainder is
 *    non-zero and the larger step still needs `count` buckets
 *  - `fromStep` rounds the count up and clamps to a single bucket when the
 *    step exceeds the whole range
 */
final case class Buckets(start: Long, step: Long, count: Int) {
  require(start > 0, "start is not positive")
  require(step > 0, "step is not positive")
  require(count > 0, "count is not positive")

  def end: Long = start + count * step

  def getIndex(timestamp: Long): Int = {
    require(timestamp >= start && timestamp < start + count.toLong * step, "timestamp out of range")
    ((timestamp - start) / step).toInt
  }

  def getBucketStart(index: Int): Long = {
    require(index >= 0 && index < count, "index out of range")
    start + index.toLong * step
  }
}

object Buckets {

  /** Force bucket count; the last bucket is not guaranteed to include `end`
    * (reference Buckets.java:129-146). */
  def fromCount(start: Long, end: Long, count: Int): Buckets = {
    require(end > start, s"Start is higher than end: $start, $end")
    require(count > 0, s"count is not positive: $count")
    val quotient = (end - start) / count
    val remainder = (end - start) % count
    val step =
      if (remainder != 0 && (count - 1).toLong * (quotient + 1) < (end - start)) quotient + 1
      else quotient
    require(step > 0, "Computed step is equal to zero")
    Buckets(start, step, count)
  }

  /** Force bucket step (reference Buckets.java:156-175). */
  def fromStep(start: Long, end: Long, step: Long): Buckets = {
    require(end > start, s"Start is higher than end: $start, $end")
    require(step > 0, s"step is not positive: $step")
    if (step > end - start) Buckets(start, step, 1)
    else {
      val quotient = (end - start) / step
      val remainder = (end - start) % step
      val count = if (remainder == 0) quotient else quotient + 1
      require(count <= Int.MaxValue, s"Computed number of buckets is too big: $count")
      Buckets(start, step, count.toInt)
    }
  }

  /** One bucket spanning a whole-range request, so it can take the
    * bucketed tier dispatch; `None` when the range starts at or before
    * the epoch, where no grid exists. */
  def whole(range: TimeRange): Option[Buckets] =
    if (range.start > 0) Some(Buckets(range.start, range.end - range.start, 1)) else None
}
