package graft

/** In-JVM interleaved A/B for optimization work: times the named bench
  * queries with a system property flipped off/on per rep (ABAB order), same
  * session, cleared cache per rep — so box drift lands on both variants and
  * the min-of-reps difference is tree-attributable. Usage:
  *
  *   runMain graft.AbProbe <propName> <query...>     (e.g. graft.pairpart)
  *
  * Variant A = prop unset (feature ON, the committed default), variant B =
  * prop "off". A prop name starting with "spark." is treated as a runtime
  * SQL conf instead: ON sets it "true", OFF sets it "false" (for boolean
  * confs like adaptive/cached-plan toggles; the probe aborts unless the
  * session value is "true", i.e. ON is the committed behavior). Diagnostic
  * only — not part of the [[SparkEntry]] contract.
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AbProbe <propName> <query...>")
    val prop = args.head
    val names = args.tail.toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps  = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val spark = GraftSession.local()
    // sys-prop hooks flip operator code paths; "spark."-prefixed names flip
    // a boolean runtime SQL conf instead, whose session value must be the
    // committed ON behavior or the ON/OFF labels below would be wrong
    val isConf = prop.startsWith("spark.")
    if (isConf) {
      val cur = spark.conf.getOption(prop)
      if (!cur.contains("true")) {
        spark.stop()
        sys.error(s"AbProbe: $prop is ${cur.getOrElse("unset")} in this session; " +
          "spark.* mode needs a boolean conf whose session value is \"true\"")
      }
    }

    val qs = Queries.all.filter(q => q.bench && names(q.name))
    def run(q: Q): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def setOn(): Unit  = if (isConf) spark.conf.set(prop, "true") else { sys.props.remove(prop); () }
    def setOff(): Unit = if (isConf) spark.conf.set(prop, "false") else { sys.props(prop) = "off"; () }
    qs.foreach { q =>
      // warm both variants (codegen/JIT for each plan shape)
      setOn(); run(q)
      setOff(); run(q)
      val on  = scala.collection.mutable.ArrayBuffer.empty[Double]
      val off = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to reps) {
        setOn(); on += run(q)
        setOff(); off += run(q)
      }
      setOn()
      def fmt(xs: Seq[Double]) =
        f"min=${xs.min}%.3f med=${xs.sorted.apply(xs.size / 2)}%.3f all=[${xs.map(x => f"$x%.3f").mkString(",")}]"
      println(s"${q.name}  $prop ON:  ${fmt(on.toSeq)}")
      println(s"${q.name}  $prop OFF: ${fmt(off.toSeq)}")
      println(f"${q.name}  ratio(min on/off)=${on.min / off.min}%.3f")
    }
    spark.stop()
  }
}
