package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-trigger profiler for the stream gates (not part of the library
  * surface): attaches a StreamingQueryListener and dumps each micro-batch's
  * durationMs breakdown (addBatch, getBatch, walCommit, queryPlanning,
  * triggerExecution, commitOffsets) plus the wall-clock per gate, to show
  * where the fixed trigger cost lives. Also writes the warm (rep 2)
  * breakdown to `docs/STREAM_FLOOR.json` — the checked-in floor artifact
  * that closes the "why is the stream family ~5 s vs a 0.26 s batch
  * oracle" question: state commit is single-digit ms; the residue is
  * Spark's micro-batch protocol itself (a fresh IncrementalExecution per
  * trigger, per-source conf broadcast, 2-3-stage job scheduling), which
  * amortizes over micro-batch SIZE in production but is pinned by the
  * gates' 3-chunk × ~33k-row protocol.
  *
  * Regenerate after stream-gate changes:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.StreamProf"
  */
object StreamProf {
  private case class Trig(gate: String, rep: Int, batchId: Long, rows: Long,
                          d: Map[String, Long])

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.harness()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()
    val phases = Seq("triggerExecution", "addBatch", "getBatch",
                     "latestOffset", "queryPlanning", "walCommit",
                     "commitOffsets")
    // listener events arrive on the bus thread — tag them with the gate
    // currently driving the query (gates run strictly one at a time; a
    // short drain sleep after each keeps stragglers in the right bucket)
    @volatile var current: (String, Int) = ("", 0)
    val trigs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Trig]())
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val (g, rep) = current
        trigs.add(Trig(g, rep, p.batchId, p.numInputRows,
          phases.map(k => k -> d.getOrDefault(k, -1L).longValue()).toMap))
        println(f"SPROF batch ${p.batchId}%2d rows=${p.numInputRows}%6d " +
          phases.map(k => s"$k=${d.getOrDefault(k, -1L)}").mkString(" "))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val gates = if (args.nonEmpty) args.toSeq
      else Seq("stream_hourly_counts", "stream_sessionize", "stream_dedup",
               "stream_late_data", "stream_attribution")
    val walls = collection.mutable.Map.empty[(String, Int), Double]
    for (rep <- 1 to 2; g <- gates) {
      current = (g, rep)
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(g)(spark, dir).count()
      walls((g, rep)) = (System.nanoTime() - t0) / 1e9
      println(f"SPROF total rep$rep $g%-22s ${walls((g, rep))}%6.3f s  rows=$n")
      Thread.sleep(300) // drain in-flight listener events into this gate
    }
    // artifact: warm (rep 2) per-gate breakdown — rep 1 carries one-time
    // plan/codegen warmup that is not the protocol floor being pinned
    import scala.jdk.CollectionConverters._
    val byGate = trigs.asScala.toSeq.filter(_.rep == 2).groupBy(_.gate)
    def j(gate: String): String = {
      val ts = byGate.getOrElse(gate, Nil).sortBy(_.batchId)
      val sums = phases.map(k => k -> ts.map(_.d(k)).filter(_ >= 0).sum)
      val trigJson = ts.map { t =>
        s"""{"batch":${t.batchId},"rows":${t.rows},""" +
          phases.map(k => s""""${k}_ms":${t.d(k)}""").mkString(",") + "}"
      }.mkString("[", ",", "]")
      s""""$gate":{"wall_sec":${walls.getOrElse((gate, 2), -1.0)},""" +
        s""""n_triggers":${ts.size},""" +
        sums.map { case (k, v) => s""""sum_${k}_ms":$v""" }.mkString(",") +
        s""","triggers":$trigJson}"""
    }
    val out =
      s"""{"what":"per-trigger durationMs breakdown of the 5 stream gates (warm rep), from StreamProf's StreamingQueryListener; pins the stream family's residual cost to Spark's micro-batch protocol (fresh IncrementalExecution + per-source conf broadcast + multi-stage scheduling per trigger) rather than state-store commits (walCommit/commitOffsets are single-digit ms)",
         |"measured_at":${System.currentTimeMillis / 1000},
         |"sf":"${new java.io.File(dir).getName}","cpus":${graft.Sessions.cpus},
         |"load_avg":${java.lang.management.ManagementFactory
                         .getOperatingSystemMXBean.getSystemLoadAverage},
         |"conclusion":"family floor on this box ~4.6-5.5 s: triggerExecution is dominated by addBatch minus state-commit, i.e. plan+schedule+execute per 3-chunk trigger; none configurable away at 33k-row triggers (r12 jstack decomposition, NOTES.md); amortizes over batch size in production",
         |"gates":{${gates.map(j).mkString(",\n")}}}""".stripMargin
    // the checked-in artifact documents the DEFAULT 5-gate sf0.1 floor;
    // a gate-subset or other-sf diagnostic run must not overwrite it
    if (args.isEmpty && dir == "/root/testdata/sf0.1") {
      try {
        Files.writeString(Paths.get("docs/STREAM_FLOOR.json"), out + "\n")
        println("SPROF wrote docs/STREAM_FLOOR.json")
      } catch {
        case t: Throwable =>
          println(s"SPROF FAILED to write docs/STREAM_FLOOR.json: $t")
      }
    } else println(s"SPROF diagnostic run (gates=$gates sf=$dir) — artifact not written:\n$out")
    spark.stop()
  }
}
