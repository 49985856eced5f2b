package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark client: one closed loop that makes one call at a time.
  *
  *   --workload NAME --inputs DIR --work DIR --out FILE --seed N
  *   --reps K --trace 0|1 --cpus N --budget S
  *
  * It sets the session up once, timed from JVM start, runs one cold
  * repetition of the workload, one unmeasured warm-up repetition, then K
  * measured ones, while the run stays inside `--budget` seconds from JVM
  * start. The JIT is still speeding the driver up over the first few
  * repetitions; a fixed count, rather than a time window, keeps every
  * run's median at the same point of that curve. Every call of every
  * repetition is checked. With `--trace 1` half of the measured
  * repetitions run with the listeners attached and spans on, and the
  * single-layer probes run at the end. Everything measured is written raw
  * to `--out`; `perfbench/run.py` runs the oracle check of the query
  * results and takes the medians.
  */
object Main {
  /** Longest a single call may run before it counts as failed. */
  private val CallDeadlineS = 60.0

  final case class CallRec(name: String, seconds: Double, error: Option[String])
  final case class RepRec(kind: String, traced: Boolean, wallS: Double, cpuS: Double,
                          calls: Seq[CallRec], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = opt("trace") == "1"
    val warmReps = opt("reps").toInt
    val budgetS = opt("budget").toDouble
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- set-up: JVM start -> a session that has run its first query
    val t0 = System.nanoTime()
    val spark = session(opt("cpus").toInt, opt("work"))
    val t1 = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    val setup = Seq(sinceJvmStart, (t1 - t0) / 1e9, (t2 - t1) / 1e9)

    val trace = new Trace(spark, s"${opt("workload")}-${opt("seed")}")
    val wl = Workloads(opt("workload"), spark, trace, opt("inputs"), opt("work"), opt("seed").toLong)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** Run `body` on its own thread with a deadline; on overrun cancel
      * every job and stream it started and report a timeout. */
    def bounded[T](body: => T): Either[String, T] = {
      val ex = Executors.newSingleThreadExecutor()
      val f = ex.submit(() => body)
      try Right(f.get((CallDeadlineS * 1e3).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          spark.streams.active.foreach(q => scala.util.Try(q.stop()))
          f.cancel(true)
          Left(s"deadline of $CallDeadlineS s exceeded")
        case e: java.util.concurrent.ExecutionException =>
          Left(String.valueOf(e.getCause).take(500))
      } finally ex.shutdown()
    }

    var aborted = false
    def runRep(kind: String, tracedRep: Boolean = false): RepRec = {
      if (tracedRep) trace.attach()
      wl.counters.clear()
      val mark = trace.mark
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val done = wl.calls.map { c =>
        val c0 = System.nanoTime()
        val r = bounded(c.run())
        (c.name, (System.nanoTime() - c0) / 1e9, r)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val layers = if (tracedRep) { trace.drain(); Layers(trace, trace.spansFrom(mark), wl.counters.toMap) }
                   else Map.empty[String, Double]
      if (tracedRep) trace.detach()
      // checks, outside the timed window
      val calls = done.map {
        case (n, s, Right(check)) =>
          CallRec(n, s, scala.util.Try(check()).fold(e => Some(String.valueOf(e).take(500)), identity))
        case (n, s, Left(err)) =>
          if (err.startsWith("deadline")) aborted = true
          CallRec(n, s, Some(err))
      }
      RepRec(kind, tracedRep, wall, cpu, calls, layers)
    }

    // ---- measurement: cold, warm-up, then the measured repetitions
    val reps = mutable.ArrayBuffer.empty[RepRec]
    reps += runRep("cold")
    if (!aborted) reps += runRep("warmup")
    var i = 0
    while (!aborted && i < warmReps && sinceJvmStart + reps.last.wallS * 1.5 < budgetS) {
      // traced reps in U T T U order, so the JIT's warm-up trend does not
      // favour either side of the tracing-overhead comparison
      reps += runRep("measured", tracedRep = traced && (i % 4 == 1 || i % 4 == 2))
      i += 1
    }

    // ---- traced run only: each layer alone, then the span dump
    val probes = if (traced && !aborted && sinceJvmStart < budgetS - 20) {
      trace.attach()
      val mark = trace.mark
      bounded(wl.probes()) match {
        case Left(err) => System.err.println(s"[perfbench] probes failed: $err")
        case Right(_) => ()
      }
      trace.drain()
      val m = Layers.probes(trace, trace.spansFrom(mark))
      trace.detach()
      m
    } else Map.empty[String, Double]
    if (traced) trace.dump(java.nio.file.Paths.get(opt("out") + ".spans.jsonl"))

    val repJson = reps.map { r =>
      Json.obj(Seq(
        "kind" -> Json.str(r.kind), "traced" -> r.traced.toString, "wall_s" -> Json.num(r.wallS), "cpu_s" -> Json.num(r.cpuS),
        "layers" -> Json.nums(r.layers),
        "calls" -> Json.arr(r.calls.map { c =>
          Json.obj(Seq("name" -> Json.str(c.name), "seconds" -> Json.num(c.seconds),
            "error" -> c.error.map(Json.str).getOrElse("null")))
        })))
    }
    val result = Json.obj(Seq(
      "setup" -> Json.arr(setup.map(Json.num)),
      "reps" -> Json.arr(repJson),
      "probes" -> Json.nums(probes),
      "aborted" -> aborted.toString,
      "peak_rss_mb" -> Json.num(peakRssMb)))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")), result.getBytes("UTF-8"))
    spark.stop()
  }

  /** The session confs of the repository's own bench entry point, with the
    * local dir inside the benchmark's work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val local = new java.io.File(work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config(graft.operators.Tables.NanosConf, "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              graft.Sessions.ObjectAggFallbackGroups)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
