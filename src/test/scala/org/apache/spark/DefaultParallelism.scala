package org.apache.spark

/** Test hook: run `body` with `spark.default.parallelism` set to `n` on
  * a live context. The local scheduler reads the key on every
  * `defaultParallelism` call, so a suite can check code that sizes
  * itself from it at a width other than the test session's core count.
  * `SparkContext.conf` is `private[spark]`, hence this package.
  */
object DefaultParallelism {
  def withValue[T](sc: SparkContext, n: Int)(body: => T): T = {
    val key = "spark.default.parallelism"
    val prev = sc.conf.getOption(key)
    sc.conf.set(key, n.toString)
    try body
    finally prev.fold(sc.conf.remove(key))(v => sc.conf.set(key, v))
  }
}
