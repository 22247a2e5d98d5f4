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

  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }
}
