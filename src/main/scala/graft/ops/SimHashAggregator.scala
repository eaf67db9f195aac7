package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Typed SimHash aggregator: one buffer of 64 bit-vote counters, each
  * shingle hashed once (`xxhash64(shingle)` = hashUnsafeBytes with seed
  * 42, bit-compatible with the column form); `finish` folds the vote
  * signs into the 64-bit fingerprint. Replaces a 64-aggregate-expression
  * plan (whose codegen compile dominated cold runs) with one pass.
  */
final class SimHashAggregator
    extends Aggregator[String, Array[Int], Long] {

  override def zero: Array[Int] = new Array[Int](64)

  override def reduce(votes: Array[Int], shingle: String): Array[Int] = {
    val s = UTF8String.fromString(shingle)
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes(), 42L)
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      b += 1
    }
    votes
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(votes: Array[Int]): Long = {
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  override def bufferEncoder: Encoder[Array[Int]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()

  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
