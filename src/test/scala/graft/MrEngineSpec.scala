package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{MrApp, MrApps, MrJob}

/**
 * Differential tests of the MR engine against the sequential oracle —
 * the same protocol as the reference's test suite (`test-mr.sh` diffs
 * distributed output against the `sequential` binary), plus the
 * engine-level laws SURVEY.md §5 derives from the fault-injection apps.
 */
class MrEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic pseudo-random document corpus. */
  private def corpus(seed: Long, nDocs: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("spark", "map", "reduce", "shuffle", "sort", "key",
                       "value", "the", "a", "of", "Zebra", "apple")
    (0 until nDocs).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
      (s"doc$i", words.mkString(" ") + (if (rnd.nextBoolean()) "." else "!?"))
    }
  }

  private def runSpark(app: MrApp, input: Seq[(String, String)],
                       nReduce: Int = MrJob.DefaultNumReduce): Seq[(String, String)] = {
    import spark.implicits._
    val ds = spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
    MrJob.run(ds, app, nReduce).collect().map(kv => (kv.key, kv.value)).toSeq
  }

  for (appName <- Seq("wc", "indexer", "sorted_concat")) {
    test(s"$appName matches the sequential oracle") {
      // the oracle emits its groups in key order, so comparing unsorted
      // also checks E9's global merge-sort of the partition outputs
      val app = MrApps.load(appName)
      val input = corpus(seed = 42, nDocs = 30)
      val expected = MrJob.runSequential(app, input)
      for (n <- Seq(1, 3, 10))
        assert(runSpark(app, input, n) == expected, s"nReduce=$n")
    }
  }

  test("output is invariant under the reduce-partition count (nReduce 1/3/10)") {
    // SURVEY.md §1.5: correctness never depends on which partition a key
    // lands in — the reference tests normalize across partitions.
    val app = MrApps.load("wc")
    val input = corpus(seed = 7, nDocs = 20)
    val results = Seq(1, 3, 10).map(n => runSpark(app, input, n).sorted)
    assert(results.distinct.size == 1)
  }

  test("reduce receives the complete value list sorted lexicographically") {
    // SURVEY.md §1.4 — the load-bearing guarantee the indexer depends on.
    val probe = new MrApp {
      val name = "order_probe"
      def map(k: String, v: String): Seq[(String, String)] =
        v.split(" ").toSeq.map(w => (w.take(1), w))
      def reduce(k: String, vs: Seq[String]): String =
        if (vs == vs.sorted) s"sorted:${vs.size}" else s"UNSORTED:${vs.mkString(",")}"
    }
    val input = corpus(seed = 13, nDocs = 25)
    val out = runSpark(probe, input)
    assert(out.nonEmpty && out.forall(_._2.startsWith("sorted:")), out.take(3))
  }

  test("wc is additive: wc(a ++ b) == wc(a) merged with wc(b) [50 random cases]") {
    val app = MrApps.load("wc")
    def counts(in: Seq[(String, String)]): Map[String, Long] =
      MrJob.runSequential(app, in).map { case (k, v) => k -> v.toLong }.toMap
    for (seed <- 1 to 50) {
      val a = corpus(seed, nDocs = 4)
      val b = corpus(seed + 1000, nDocs = 3).map { case (k, v) => (s"b_$k", v) }
      val merged = (counts(a).keySet ++ counts(b).keySet).map { w =>
        w -> (counts(a).getOrElse(w, 0L) + counts(b).getOrElse(w, 0L))
      }.toMap
      assert(counts(a ++ b) == merged, s"seed=$seed")
    }
  }

  test("whole-file scan + text sink round-trips through the reference's merge normalization") {
    val tmp = java.nio.file.Files.createTempDirectory("mr_e2e").toFile
    try {
      val texts = Map("f1.txt" -> "apple banana apple", "f2.txt" -> "banana Cherry",
                      "f3.txt" -> "apple")
      texts.foreach { case (n, s) =>
        java.nio.file.Files.writeString(new java.io.File(tmp, n).toPath, s)
      }
      val result = MrJob.runFiles(spark, "wc",
        texts.keys.map(n => new java.io.File(tmp, n).getPath).toSeq)
      val outDir = new java.io.File(tmp, "out").getPath
      MrJob.writeText(result, outDir)
      // `sort mr-out* | grep .` ≙ readText (Makefile:33-34)
      val merged = MrJob.readText(spark, outDir).collect().toSeq
      assert(merged == Seq("Cherry 1", "apple 3", "banana 2"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("HolisticReduce partial buffers survive serialize/merge across many input partitions") {
    // Force partial aggregation by spreading each key's values over many
    // input partitions — merge() then combines shuffled partial buffers,
    // and §1.4's sort must still hold on the merged whole.
    import spark.implicits._
    val probe = new MrApp {
      val name = "merge_probe"
      def map(k: String, v: String): Seq[(String, String)] = Seq((v.take(1), v))
      def reduce(k: String, vs: Seq[String]): String =
        (if (vs == vs.sorted) "sorted:" else "UNSORTED:") + vs.mkString(",")
    }
    val values = (0 until 200).map(i => f"v$i%03d")
    val input = scala.util.Random.shuffle(values).map(v => MrJob.KV("in", v))
    val ds = spark.createDataset(input).repartition(16)
    val out = MrJob.run(ds, probe, nReduce = 3).collect()
    assert(out.length == 1 && out.head.value == "sorted:" + values.mkString(","))
  }

  test("graft_mr_reduce is callable from SQL (extensions-equivalent registration)") {
    // same builder GraftExtensions injects, registered into the live session
    org.apache.spark.sql.GraftShims.registerFunction(spark, "graft_mr_reduce",
      children => {
        val app = MrApps.load(children.head.eval().toString)
        graft.functions.HolisticReduce(children(1), children(2), app.reduce _)
      })
    import spark.implicits._
    val input = corpus(seed = 5, nDocs = 10)
    spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
      .createOrReplaceTempView("mr_in")
    val viaSql = spark.sql(
      """SELECT key, graft_mr_reduce('wc', key, value) AS value
        |FROM (SELECT w AS key, '1' AS value
        |      FROM mr_in LATERAL VIEW explode(split(value, '[^A-Za-z]+')) t AS w
        |      WHERE w <> '')
        |GROUP BY key ORDER BY key""".stripMargin).as[MrJob.KV].collect().toSeq
    val oracle = MrJob.runSequential(MrApps.load("wc"), input)
    assert(viaSql.map(kv => (kv.key, kv.value)) == oracle)
  }

  test("unknown app name fails with the known-apps listing (E11 registry)") {
    val e = intercept[NoSuchElementException](MrApps.load("nope"))
    assert(e.getMessage.contains("wc"))
  }

  test("ServiceLoader discovers a classpath app by name (E11 dylib-loading twin)") {
    // svc_maxlen lives only on the test classpath and is published via
    // META-INF/services/graft.mr.MrApp — never register()ed, never in the
    // builtin map; resolving it exercises the dlopen-by-name analogue
    // (common/src/lib.rs:22-39) end to end through the engine
    val app = MrApps.load("svc_maxlen")
    assert(app.getClass.getName == "graft.mr.ServiceLoadedApp")
    assert(MrApps.names.contains("svc_maxlen"))
    val input = corpus(seed = 13, nDocs = 10)
    val expected = MrJob.runSequential(app, input).sorted
    assert(expected.nonEmpty)
    assert(runSpark(app, input).sorted == expected)
  }
}
