package graft.tools

/** Throwaway A/B harness for RUNTIME-settable SQL confs (not part of the
  * library surface): times each named query under conf=off vs conf=on,
  * interleaved medians. Usage: AbConf <reps> <confKey=val|val> <query>...
  * — e.g. `AbConf 7 spark.sql.adaptive.enabled=false q11_important_parts`
  * times each query with the session default vs with the override. */
object AbConf {
  def main(args: Array[String]): Unit = {
    def usage(why: String): Nothing = {
      System.err.println(s"AbConf: $why\nusage: AbConf <reps> <confKey=val> <query>...")
      sys.exit(2)
    }
    if (args.length < 3) usage("expected at least 3 args")
    val reps = args(0).toIntOption.getOrElse(usage(s"reps '${args(0)}' is not an int"))
    val (key, v) = args(1).split("=", 2) match {
      case Array(k, value) => (k, value)
      case _               => usage(s"'${args(1)}' is not of the form confKey=val")
    }
    val queries = args.drop(2)
    queries.find(!graft.SparkEntry.queries.contains(_))
      .foreach(q => usage(s"unknown query '$q'"))
    val spark = graft.Sessions.harness()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()
    // getOption: conf keys with no registered session default (e.g. an
    // unset optional conf) would make conf.get throw a confusing
    // NoSuchElementException; treat "unset" as the base arm instead.
    val base = spark.conf.getOption(key)
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      graft.operators.Checkpoints.releaseAll(spark)
      t
    }
    for (n <- queries) { time(n); time(n) } // warm both codegen paths
    val acc = collection.mutable.Map.empty[(String, Boolean), Vector[Double]]
      .withDefaultValue(Vector())
    for (_ <- 1 to reps; n <- queries; on <- Seq(false, true)) {
      if (on) spark.conf.set(key, v)
      else base.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      acc((n, on)) = acc((n, on)) :+ time(n)
    }
    for (n <- queries) {
      def med(on: Boolean) = { val xs = acc((n, on)).sorted; xs(xs.size / 2) }
      println(f"ABCONF $n%-24s base=${med(false)}%6.3f  $key=$v: ${med(true)}%6.3f")
    }
    spark.stop()
  }
}
