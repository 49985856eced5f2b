package graft.tools
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Optimization-round probe (r17): executes a query once (count, the
  * bench action), then walks the FINAL adaptive physical plan printing
  * each operator's runtime metrics (rows out, per-operator timing
  * accumulators) so the expensive leg is identified from data, not
  * guesswork. Usage: OpProf <query>... */
object OpProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.harness()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()

    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
      val m = p.metrics
      val interesting = m.toSeq
        .filter { case (k, v) => v.value > 0 &&
          (k.contains("time") || k.contains("Time") || k == "numOutputRows" ||
           k.contains("dataSize") || k.contains("spill") || k.contains("peak")) }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=${v.value}" }
      out.append("  " * depth).append(p.nodeName)
      if (interesting.nonEmpty) out.append("  [").append(interesting.mkString(" ")).append("]")
      out.append("\n")
      // recurse into reused/shuffle-stage subtrees too
      val kids = p.children ++ (p match {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case _ => Nil
      })
      kids.foreach(walk(_, depth + 1, out))
    }
    // df.count() executes a DERIVED QueryExecution — capture the executed
    // one (with its metric values) via a listener instead of df's own
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        lastQe = qe
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    for (n <- args) {
      // run twice: first warms codegen/JIT, second is the measured profile
      graft.SparkEntry.queries(n)(spark, dir).count()
      graft.operators.Checkpoints.releaseAll(spark)
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // capture the pre-measurement listener state so the wait below can
      // tell the measured run's QueryExecution from the warm-up's
      // (ADVICE r17: a fixed sleep could profile the stale run). Delivery
      // is async, so first poll until lastQe stops changing: a warm-up
      // (or eager construction) event still in flight would otherwise
      // land after the capture and pass for the measured run's. Bounded
      // as in BuildProf.snap, so a continuously firing background job
      // can't spin this forever.
      var settled = lastQe
      var spins = 0
      Thread.sleep(60)
      while ((lastQe ne settled) && spins < 100) {
        settled = lastQe; Thread.sleep(60); spins += 1
      }
      if (spins >= 100)
        System.err.println(s"[opprof] $n: listener never quiesced; using last event")
      val before = lastQe
      val t0 = System.nanoTime()
      df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener delivery is async: poll until lastQe changes identity,
      // bounded so a dropped event can't hang the profile
      var waited = 0
      while ((lastQe eq before) && waited < 5000) {
        Thread.sleep(50); waited += 50
      }
      if (lastQe eq before)
        System.err.println(s"[opprof] $n: listener never delivered; profiling stale plan")
      val sb = new StringBuilder
      walk(finalPlan(lastQe.executedPlan), 0, sb)
      println(f"OPPROF $n wall=$wall%.3f\n$sb")
      graft.operators.Checkpoints.releaseAll(spark)
    }
    spark.stop()
  }
}
