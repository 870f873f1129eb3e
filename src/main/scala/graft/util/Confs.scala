package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped session confs, so demo queries never permanently mutate
  * shared session state. */
object Confs {

  /** Set `kvs`, run `body`, then restore each key's previous value, or
    * unset a key that had none. A conf must hold when it is consumed
    * (plan build, scan resolution, stream start or execution), so the
    * caller picks a scope that covers that moment. */
  def withConfs[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
