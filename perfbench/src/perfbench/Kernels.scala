package perfbench

/** Plain-JVM kernel timing: no Spark, just the function over an input
  * array. Three warm passes, then the median ns per item of five timed
  * passes. `body` returns a value folded into a sink so no call is elided.
  */
object Kernels {
  @volatile var sink: Long = 0L

  def nsPerItem(n: Int)(body: Int => Long): Double = {
    var acc = 0L
    def pass(): Unit = { var i = 0; while (i < n) { acc += body(i); i += 1 } }
    for (_ <- 0 until 3) pass()
    val samples = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      pass()
      (System.nanoTime() - t0).toDouble / n
    }
    sink += acc
    Main.median(samples)
  }
}
