package org.apache.spark

/** Runs `body` with `key` set on a running context's own SparkConf, which
  * the scheduler reads as each stage starts (`SparkContext.getConf` hands
  * out a copy, and `spark.conf.set` refuses core settings). */
object LiveConf {
  def withSetting[A](sc: SparkContext, key: String, value: String)(body: => A): A = {
    val prev = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally prev.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
