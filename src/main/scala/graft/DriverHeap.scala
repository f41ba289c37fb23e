package graft

import org.apache.spark.util.SizeEstimator

/** Sizing of the loops that run on the driver when their state fits:
  * [[graft.dedup.Dedup.propagate]]'s union-find and
  * [[graft.text.Bpe.mergeRounds]]' merge loop. A branch may hold an
  * eighth of the driver heap, counted in units whose cost is measured
  * on a sample with Spark's SizeEstimator, so the bound follows the
  * JVM's real object layout instead of a literal. */
object DriverHeap {

  /** Bytes per unit of `sample`, an object graph holding `units` units. */
  def bytesPer(units: Int, sample: AnyRef): Long =
    math.max(1L, SizeEstimator.estimate(sample) / units)

  /** The most units of `unitBytes` each that a driver branch may hold. */
  def bound(unitBytes: Long): Long = Runtime.getRuntime.maxMemory / 8 / unitBytes
}
