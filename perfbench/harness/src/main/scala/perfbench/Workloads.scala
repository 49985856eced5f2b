package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.mr.{MrApps, MrJob}
import graft.operators.{Checkpoints, Tables}

/** One call the client makes: `run` does the work that is timed and hands
  * back the check of its materialized results, run afterwards outside the
  * timed window: `None` if they are right, else what is wrong. */
final case class Call(name: String, run: () => () => Option[String])

/** A workload: the calls of one repetition, plus the traced-only probes
  * that time a single layer in isolation. `counters` collects the exact
  * per-rep counts a call observes directly (files written, cut storage). */
abstract class Workload(val spark: SparkSession, val trace: Trace) {
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = if (trace.enabled) counters(name) += v

  def calls: Seq[Call]
  def probes(): Unit = ()

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time the public reader of `dfs` alone into the `noop` sink. */
  protected def scanProbe(dfs: => Seq[DataFrame]): Unit =
    trace.span("sources.scan") { dfs.foreach(noop) }
}

/** Query results for the DuckDB oracle check. The first result of each
  * query is written to `<dir>/<name>/` as parquet, and its oracle SQL to
  * `<dir>/oracle_sql.json`, the layout `tools/check.py` compares; every
  * later result must hold the same rows as the first. */
final class Results(spark: SparkSession, dir: String) {
  private val first = mutable.Map.empty[String, Seq[String]]

  def check(name: String, schema: StructType, rows: Array[Row]): Option[String] = {
    val got = rows.map(_.toString).sorted.toSeq
    first.get(name) match {
      case Some(want) =>
        if (got == want) None else Some(s"$name: rows differ from its first result")
      case None =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
        first(name) = got
        Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.obj(first.keys.toSeq.sorted
          .map(n => n -> Json.str(SparkEntry.oracleSql(n)))))
        None
    }
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, trace: Trace, inputs: String,
            work: String, seed: Long): Workload = name match {
    case "mr_corpus" => new MrCorpus(spark, trace, inputs, work)
    case "driver_loops" => new DriverLoops(spark, trace, inputs, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The parts of the query surface whose time goes to driver round trips:
  * two iterative operators, connected components (one driver action per
  * round until the labels stop moving) and shortest paths (a fixed unroll
  * of joins with lineage cuts), and two micro-batched stream gates, MinHash
  * bands over the documents and a watermark that drops late rows. The seed
  * sets the order of the calls. */
final class DriverLoops(spark: SparkSession, trace: Trace, dir: String, work: String,
                        seed: Long) extends Workload(spark, trace) {
  private val names = Seq("dedup_components", "graph_sssp", "stream_minhash", "stream_late_data")
  private val order = new scala.util.Random(seed).shuffle(names)
  private val results = new Results(spark, s"$work/results")
  def calls: Seq[Call] = order.map(queryCall)

  /** A query-surface call: construct (with its eager actions), then
    * materialize every row and column, then drop its lineage-cut blocks. */
  private def queryCall(name: String): Call = {
    val stream = name.startsWith("stream_")
    val fn = SparkEntry.queries(name)
    Call(name, () => trace.span(if (stream) s"streaming.$name" else s"operators.$name") {
      val cg0 = Codegen.count
      val df = trace.span(if (stream) "streaming.gate" else "operators.construct", stream)(fn(spark, dir))
      val rows = trace.span("operators.execute") {
        if (trace.enabled) {
          trace.span("operators.plan")(df.queryExecution.executedPlan)
          val ph = df.queryExecution.tracker.phases
          def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          add("operators.analysis_s", phase("analysis"))
          add("operators.optimize_s", phase("optimization"))
          add("operators.planning_s", phase("planning"))
        }
        df.collect()
      }
      if (trace.enabled) {
        add("operators.codegen_s", Codegen.secondsSince(cg0))
        add("operators.cut_storage_mb", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      trace.span("operators.release")(Checkpoints.releaseAll(spark))
      val schema = df.schema
      () => results.check(name, schema, rows)
    })
  }

  override def probes(): Unit = {
    scanProbe(Seq(Tables.events(spark, dir), Tables.t(spark, dir, "documents")))
    // tokens -> word 3-shingles -> MinHash signatures over the documents
    trace.span("functions.minhash") {
      val toks = split(lower(col("text")), "[^a-z]+")
      val shingles = transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(3))))
      noop(Tables.t(spark, dir, "documents")
        .select(graft.functions.MinHashSigs.minHashSigs(shingles, 16, 2147483647L).as("sig")))
    }
  }
}

/** The paper's own job: whole files -> wc and indexer -> committed text ->
  * read back through the KV text source. */
final class MrCorpus(spark: SparkSession, trace: Trace, inputs: String,
                     work: String) extends Workload(spark, trace) {
  import spark.implicits._
  private val paths = new File(inputs).listFiles.map(_.getPath).filter(_.endsWith(".txt")).sorted.toSeq
  private val apps = Seq("wc", "indexer")
  private val outRoot = s"$work/mr_out"

  def calls: Seq[Call] = apps.map { name =>
    Call(s"mr_$name", () => {
      val out = s"$outRoot/$name"
      val app = MrApps.load(name)
      val in = trace.span("sources.wholeFileInput")(MrJob.wholeFileInput(spark, paths))
      val res = trace.span("mr.run")(MrJob.run(in, app))
      trace.span("mr.writeText")(MrJob.writeText(res, out))
      val back = trace.span("sources.readback") {
        spark.read.format("graft.sources.KvTextSource").load(out).collect()
      }
      if (trace.enabled) {
        val parts = new File(out).listFiles.filter(_.getName.startsWith("part-"))
        add("mr.output_files", parts.length)
        add("mr.output_bytes", parts.map(_.length).sum.toDouble)
      }
      () => {
        val (lines, rows) = expected(name)
        val got = committedLines(out)
        val gotRows = back.map(r => s"${r.getString(0)}\t${r.getString(1)}").sorted.toSeq
        if (got != lines) Some(s"mr_$name: ${got.size} committed lines differ from the " +
          s"${lines.size} of MrJob.runSequential")
        else if (gotRows != rows) Some(s"mr_$name: ${gotRows.size} rows read back differ " +
          s"from the ${rows.size} expected")
        else None
      }
    })
  }

  private def committedLines(dir: String): Seq[String] =
    new File(dir).listFiles.filter(_.getName.startsWith("part-")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty)).sorted

  /** What `MrJob.runSequential` gives for each app over the files as they
    * are on disk, each keyed by its file URI as the whole-file source keys
    * it: the committed lines, and the (key, value) rows the KV text source
    * reads back, which keep a value's first token only. Sorted. */
  private lazy val expected: Map[String, (Seq[String], Seq[String])] = {
    val input = paths.map { p =>
      val path = Paths.get(p).toAbsolutePath
      path.toUri.toString -> Files.readString(path)
    }
    apps.map { name =>
      val seq = MrJob.runSequential(MrApps.load(name), input)
      name -> ((seq.map { case (k, v) => s"$k $v" }.sorted,
        seq.flatMap { case (k, v) => v.split("\\s+").find(_.nonEmpty).map(f => s"$k\t$f") }.sorted))
    }.toMap
  }

  override def probes(): Unit = {
    scanProbe(Seq(MrJob.wholeFileInput(spark, paths).toDF()))
    // the reduce aggregate alone, over pairs mapped and cached beforehand
    val wc = MrApps.load("wc")
    val pairs = MrJob.wholeFileInput(spark, paths)
      .flatMap(r => wc.map(r.key, r.value).map { case (k, v) => MrJob.KV(k, v) }).cache()
    pairs.count()
    trace.span("functions.holistic_reduce") {
      noop(pairs.repartition(MrJob.DefaultNumReduce, $"key").groupBy($"key")
        .agg(graft.functions.HolisticReduce(wc.reduce _)($"key", $"value").as("value")))
    }
    pairs.unpersist(blocking = true)
  }
}

/** Codegen compile time from Spark's codegen metrics. The histogram keeps
  * a sample, not a sum, so the time since a mark is estimated as the
  * compiles since it times their mean duration. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def count: Long = h.getCount
  def secondsSince(mark: Long): Double = (h.getCount - mark) * h.getSnapshot.getMean / 1e3
}
