package graft

import org.apache.spark.sql.SparkSession

/** Temporarily override a session conf for a code block, restoring the
  * previous value after. Used to size shuffle width to the DATA a
  * specific operator moves rather than the session default: streaming
  * state stores (graft.streaming.Streams) and iterative graph rounds
  * (Clusters.connectedComponents) pay per-partition fixed costs every
  * micro-batch / round, so an over-partitioned small relation turns
  * into pure scheduling overhead, while the session-wide setting stays
  * right for the big scans. */
object ScopedConf {
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T =
    withConfs(s, key -> value)(body)

  /** Set every `(key, value)` for `body`, then restore each key to its
    * previous value (or unset it), in reverse order. */
  def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverseIterator.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
