package graft.tools

/** Median-of-N timing for named queries. Usage: Timeit [--count] <reps>
  * <query>... — default times a noop-sink write (the full computation);
  * `--count` times `count()` instead, matching the Bench/driver protocol
  * (which prunes terminal projections of pure-map queries). */
object Timeit {
  def main(args0: Array[String]): Unit = {
    val useCount = args0.headOption.contains("--count")
    val args = if (useCount) args0.tail else args0
    val reps = args.head.toInt
    val spark = graft.Sessions.harness()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM warm-up
    for (n <- args.tail) {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, dir)
        // noop sink by default, NOT count(): count() lets Catalyst prune
        // terminal projections, so pure-map queries (redaction,
        // quantization, …) would time only their scan — the noop write
        // forces every row and column to be produced.
        if (useCount) df.count()
        else df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        graft.operators.Checkpoints.releaseAll(spark) // untimed, as in Bench
        t
      }
      val sorted = times.sorted
      val med = sorted(sorted.size / 2)
      println(f"TIMEIT $n%-24s median=$med%7.3f  min=${sorted.head}%7.3f  max=${sorted.last}%7.3f" +
        (if (sys.env.contains("TIMEIT_VERBOSE"))
           times.map(t => f"$t%.2f").mkString("  [", " ", "]") else ""))
    }
    spark.stop()
  }
}
