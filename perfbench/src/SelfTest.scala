package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own unit tests: generator determinism, the tail
  * percentile helper, span arithmetic and Spark call-site attribution.
  * Prints one line per test and exits non-zero on any failure.
  */
object SelfTest {

  private var failed = 0

  def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failed += 1
        println(s"FAIL $name: $e")
    }

  def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, expected $want")

  def main(args: Array[String]): Unit = {
    test("generator: same seed, same corpus") {
      eq(Corpus.generate(7, 400), Corpus.generate(7, 400))
    }
    test("generator: another seed, another corpus") {
      assert(Corpus.generate(7, 400)._1 != Corpus.generate(8, 400)._1)
    }
    test("generator: planted shares and lengths") {
      val (docs, p) = Corpus.generate(11, 4000)
      eq(p.docs, 4000)
      for ((n, share) <- Seq(p.exactCopies -> 0.06, p.nearDups -> 0.06, p.gateFails -> 0.05))
        assert(math.abs(n / 4000.0 - share) < 0.02, s"$n planted, share $share")
      assert(docs.forall(_.text.split(" ").length >= Corpus.MinTokens))
      eq(docs.map(_.id), (0L until 4000L).toVector)
    }
    test("generator: exactly the planted gate failures fail the gate") {
      val (docs, p) = Corpus.generate(12, 2000)
      eq(docs.count(d => !Corpus.gateOk(d.text.split(" "))), p.gateFails)
    }
    test("expectations: top-p cut keeps the head under the mass") {
      val cut = Corpus.topPCut(Map("a" -> 5L, "b" -> 3L, "c" -> 1L, "d" -> 1L), 0.9)
      eq(cut, Vector("a" -> 5L, "b" -> 3L))
    }
    test("expectations: ingest audit of a tiny corpus") {
      val words = "alpha beta gamma delta epsilon zeta theta iota kappa lambda".split(" ")
      val base = (0 until 40).map(i => words(i % 10) + i).mkString(" ")
      val docs = Seq(Doc(0, base), Doc(1, base), Doc(2, base + " omega"))
      // fixture: 3 originals, 3 variants, 3 copies; every row near-dups
      // every other, so batch 1 keeps one doc and later batches none
      val audit = Corpus.ingestExpect(docs, 0.5)
      eq(audit.map(_.nIn).sum, 9L)
      eq(audit.map(_.nFinal), Vector(1L, 0L, 0L))
    }
    test("expectations: MinHash signatures equal the engine's") {
      // values the engine's Dedup.signatures gives for seed 9's doc 18,
      // and for doc 75 (doc 18 with one word appended): one new
      // shingle moves half the correlated signature values, so the
      // estimate is 0.5 although the Jaccard similarity is 0.98
      val (docs, _) = Corpus.generate(9, 200)
      val s18 = Corpus.signature(docs(18).text)
      eq(s18.take(4), Vector(12356056L, 44838118L, 43388126L, 25608128L))
      eq(Corpus.signature(docs(75).text).take(4),
        Vector(12356056L, 20429166L, 23767818L, 25608128L))
      eq(Corpus.estSim(s18, Corpus.signature(docs(75).text)), 0.5)
    }
    test("stats: nearest-rank percentiles") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 50), 50.0)
      eq(Stats.percentile(xs, 90), 90.0)
      eq(Stats.percentile(xs, 99.9), 100.0)
    }
    test("stats: the tail has exactly ten samples beyond it") {
      eq(Stats.summarize((1 to 100).map(_.toDouble)), Stats.Summary(100, 50.0, 90.0, 90.0))
      eq(Stats.summarize((1 to 40).reverse.map(_.toDouble)), Stats.Summary(40, 20.0, 30.0, 75.0))
      eq(Stats.summarize((1 to 11).map(_.toDouble)).tail, 1.0)
      eq(Stats.summarize(Seq(3.0, 1.0, 2.0)), Stats.Summary(3, 2.0, 3.0, 100.0))
    }
    test("trace: interval union and self time") {
      eq(Trace.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L))), 25L)
      val spans = Seq(Span(1, "call", "ops", 0, 100, 0, 1),
        Span(2, "job", "spark", 10, 40, 1, 1), Span(3, "job", "spark", 30, 60, 1, 1))
      eq(Trace.selfTimes(spans)(1L), 50L)
    }
    test("trace: call-site file of a stage name") {
      eq(Trace.callSiteFile("count at Pipeline.scala:612"), "Pipeline")
      eq(Trace.callSiteFile("parquet at Sources.scala:82"), "Sources")
      eq(Trace.callSiteFile("run at ThreadPoolExecutor.java:1136"), "ThreadPoolExecutor")
      eq(Trace.callSiteFile(""), "unknown")
    }
    test("trace: program files on a long-form call site") {
      val long = "org.apache.spark.sql.Dataset.count(Dataset.scala:3615)\n" +
        "graft.ops.Layout$.appendInPlace(Layout.scala:210)\n" +
        "graft.ops.Bm25Index$.append(Bm25Index.scala:320)\n" +
        "graft.ops.Pipeline$.ciStepBody(Pipeline.scala:700)\n" +
        "graft.ops.Pipeline$.ciStep(Pipeline.scala:595)\n" +
        "java.base/java.lang.Thread.run(Thread.java:840)"
      eq(Trace.callChainFiles(long), Vector("Layout", "Bm25Index", "Pipeline"))
    }
    test("trace: Spark jobs are attributed to the file that ran them") {
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      try {
        val trace = new Trace(enabled = true)
        val js = new JobSpans(trace)
        spark.sparkContext.addSparkListener(js)
        trace.onEnter = cur =>
          spark.sparkContext.setLocalProperty(js.ParentProp, cur.map(_._1.toString).orNull)
        trace.span("probe", "bench") {
          // a shuffle: its map stage runs from an adaptive-execution
          // pool thread, yet belongs to this file's query
          spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        }
        js.awaitIdle()
        val jobs = js.finished
        assert(jobs.nonEmpty, "no jobs seen")
        eq(jobs.map(_._2.file).distinct, Vector("SelfTest"))
        assert(jobs.forall(_._2.chain.contains("SelfTest")), "long-form chain misses the file")
        val probe = trace.all.find(_.name == "probe").get
        assert(jobs.forall(_._2.parent == probe.id), "jobs not parented to the span")
      } finally spark.stop()
    }
    args.headOption.foreach { path =>
      test("BENCHMARK.json declares exactly the metrics the runs print") {
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
        def named(key: String) = (j \ key).children.map(m =>
          ((m \ "name").values.toString, (m \ "unit").values.toString)).toVector
        eq(named("end_to_end"), Main.EndToEnd)
        eq(named("per_layer"), Main.PerLayer)
        eq((j \ "workloads").children.map(w => (w \ "name").values.toString).toVector,
          Main.Workloads)
      }
    }
    println(if (failed == 0) "all tests passed" else s"$failed tests failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
