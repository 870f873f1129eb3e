package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.Native

/** Session-extension entry point: configure
  * `spark.sql.extensions=graft.GraftExtensions` and every session
  * (including ones created by thrift/connect servers, where runtime
  * registration hooks don't run) gets the graft-native functions and
  * planner strategies — the same [[graft.functions.Native]] table that
  * `Native.register(spark)` installs on one session at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Native.functions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    Native.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}
