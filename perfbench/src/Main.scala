package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Int,
    val workDir: File, val trace: Trace, val jobs: Option[JobSpans]) {

  /** Drop what a finished operation left cached (persisted and
    * locally checkpointed RDDs, cached tables), so it never shifts
    * memory pressure onto the next one. Runs between timed windows.
    */
  def hygiene(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  def dir(name: String): File = {
    val d = new File(workDir, name)
    d.mkdirs()
    d
  }

  def cpus: Int = spark.sparkContext.defaultParallelism


  /** Run `body` as the timed window: Spark jobs, GC time and heap are
    * accounted from its start to its end only.
    */
  def window[T](body: => T): (T, WindowStats) = {
    jobs.foreach { js => js.awaitIdle(); js.clear() }
    val gc0 = Main.gcSeconds
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    jobs.foreach(_.awaitIdle())
    val gc = Main.gcSeconds - gc0
    (out, WindowStats(wall, jobs.map(_.finished).getOrElse(Vector.empty), gc,
      if (jobs.isDefined) Main.heapAfterGcMb else 0.0))
  }
}

/** What the timed window saw below the workload. */
final case class WindowStats(wallS: Double,
    jobs: Vector[(Span, JobStat)], gcS: Double, heapAfterGcMb: Double) {

  /** Spark and JVM per-layer metrics, normalised by `ops` workload
    * operations.
    */
  def layerMetrics(ops: Int, cores: Int): Seq[Metric] = {
    val n = ops.max(1).toDouble
    val stats = jobs.map(_._2)
    Seq(
      Metric("spark.jobs_per_op", jobs.size / n),
      Metric("spark.tasks_per_op", stats.map(_.tasks).sum / n),
      Metric("spark.shuffle_write_mb_per_op",
        stats.map(_.shuffleWrite).sum / 1048576.0 / n),
      Metric("spark.spill_mb_per_op", stats.map(_.spill).sum / 1048576.0 / n),
      Metric("spark.busy_ratio",
        stats.map(_.runMs).sum / 1e3 / (wallS * cores)),
      Metric("jvm.gc_s", gcS),
      Metric("jvm.heap_after_gc_mb", heapAfterGcMb))
  }

  /** Spark job wall time under calls into `file` (inclusive: a job
    * counts for every program file on its call stack).
    */
  def jobSecondsUnder(file: String): Double =
    jobs.filter(_._2.chain.contains(file)).map(_._1.durNs).sum / 1e9
}

/** Generated inputs, written as parquet: the program only ever reads
  * this parquet.
  */
object Inputs {
  def corpus(env: Env, name: String, nDocs: Int): (Vector[Doc], Planted, String) = {
    val (docs, planted) = Corpus.generate(env.seed, nDocs)
    val path = new File(env.workDir, s"inputs/$name.parquet").getPath
    import env.spark.implicits._
    env.spark.sparkContext.parallelize(docs.map(d => (d.id, d.text)), env.cpus)
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    (docs, planted, path)
  }

  def info(p: Planted): String =
    s"""{"docs":${p.docs},"exact_copies":${p.exactCopies},""" +
      s""""near_dups":${p.nearDups},"gate_fails":${p.gateFails},""" +
      s""""tokens":${p.tokens},"text_bytes":${p.textBytes}}"""
}

/** A measured value; its unit is declared in [[Main.EndToEnd]] or
  * [[Main.PerLayer]].
  */
final case class Metric(name: String, value: Double)

/** What a workload reports: how many checks it made and which failed,
  * its end-to-end and per-layer metrics, and details printed beside
  * them.
  */
final case class Outcome(attempted: Long, failures: Seq[String],
    endToEnd: Seq[Metric], perLayer: Seq[Metric], info: Seq[(String, String)]) {
  def failed: Long = failures.size.toLong
}

object Main {

  val Workloads = Vector("browse", "ingest")

  /** Every end-to-end metric with its unit; each workload reports all. */
  val EndToEnd: Vector[(String, String)] = Vector(
    "setup_s" -> "s", "throughput" -> "1/s", "p50_ms" -> "ms", "tail_ms" -> "ms",
    "stored_bytes_per_input_byte" -> "ratio")

  /** Every per-layer metric with its unit. A traced run prints all of
    * them, 0 for the layers its workload does not exercise.
    */
  val PerLayer: Vector[(String, String)] = Vector(
    "planner.findpath_ms" -> "ms", "planner.expansions" -> "count",
    "executor.runpath_ms" -> "ms",
    "serve.explore_p50_ms" -> "ms", "serve.goal_p50_ms" -> "ms",
    "serve.view_p50_ms" -> "ms", "serve.csv_p50_ms" -> "ms",
    "serve.spark_jobs_per_view" -> "count", "serve.wait_ratio" -> "ratio",
    "serve.prefill_first_view_s" -> "s",
    "plancache.materialize_s" -> "s", "plancache.bytes_per_row" -> "B",
    "plancache.files_per_job" -> "count",
    "ingest.job_s.Pipeline" -> "s", "ingest.job_s.Dedup" -> "s",
    "ingest.job_s.Layout" -> "s", "ingest.job_s.Manifest" -> "s",
    "ingest.job_s.Bm25Index" -> "s", "ingest.driver_gap_s" -> "s",
    "manifest.commits_per_call" -> "count", "ingest.files_written_per_call" -> "count",
    "ingest.bytes_written_per_call" -> "B",
    "spark.plan_ms" -> "ms", "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_write_mb_per_op" -> "MB", "spark.spill_mb_per_op" -> "MB",
    "spark.busy_ratio" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload browse|ingest --seed N " +
      "--seconds S --trace 0|1 --work DIR --trace-out FILE")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing $k"))
    val workload = opt("--workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val workDir = new File(opt("--work"))
    workDir.mkdirs()

    val cpus = Runtime.getRuntime.availableProcessors().min(4).max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("spark session up")

    val code =
      try {
        val canaryStart = canary(spark)
        log("opening canary done")
        val out =
          if (!traced) runWorkload(workload, spark, seed, seconds, workDir, None)
          else {
            val trace = new Trace(enabled = true)
            val js = new JobSpans(trace)
            spark.sparkContext.addSparkListener(js)
            trace.onEnter = cur => {
              val sc = spark.sparkContext
              sc.setLocalProperty(js.ParentProp, cur.map(_._1.toString).orNull)
              sc.setLocalProperty(js.OpProp, cur.map(_._2.toString).orNull)
            }
            val t0 = System.nanoTime()
            val t = runWorkload(workload, spark, seed, seconds, workDir, Some((trace, js)))
            js.awaitIdle()
            // the tracer's own time over the traced pass: an untraced
            // second pass to subtract would not fit a run (one ingest call
            // alone takes 40 s or more), and browse's run-to-run noise exceeds it
            val overhead = Metric("trace.overhead_ratio",
              trace.overheadNs.toDouble / (System.nanoTime() - t0))
            val spans = trace.all
            val file = new File(opt("--trace-out"))
            java.nio.file.Files.write(file.toPath,
              Trace.toJson(spans).getBytes("UTF-8"))
            t.copy(
              perLayer = t.perLayer :+ overhead,
              info = t.info ++ Seq("trace_file" -> str(file.getName),
                "trace_spans" -> spans.size.toString))
          }
        val canaryEnd = canary(spark)
        report(workload, seed, out, traced, canaryStart, canaryEnd)
        if (out.failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: $workload failed")
          e.printStackTrace()
          3
      } finally spark.stop()
    sys.exit(code)
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  private def runWorkload(name: String, spark: SparkSession, seed: Long,
      seconds: Int, workDir: File, tracing: Option[(Trace, JobSpans)]): Outcome = {
    val env = new Env(spark, seed, seconds, workDir,
      tracing.map(_._1).getOrElse(new Trace(enabled = false)),
      tracing.map(_._2))
    val out = name match {
      case "browse" => BrowseWorkload.run(env)
      case "ingest" => IngestWorkload.run(env)
    }
    env.hygiene()
    out
  }

  /** Constant-cost computation timed outside the workload, median of
    * three: a run made on a loaded machine shows it here.
    */
  def canary(spark: SparkSession): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(5000000L).selectExpr("sum(id * 3)").collect()
      (System.nanoTime() - t0) / 1e9
    })

  /** Total GC seconds of this JVM so far. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after a full collection (forces one). */
  def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def report(workload: String, seed: Long, out: Outcome,
      traced: Boolean, canaryStart: Double, canaryEnd: Double): Unit = {
    out.failures.take(20).foreach(f => println(s"check failed: $f"))
    val info = (Seq("workload" -> str(workload), "seed" -> seed.toString,
      "canary_start_s" -> num(canaryStart), "canary_end_s" -> num(canaryEnd)) ++
      out.info).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    println(s"details: $info")
    val (declared, got) = if (traced) (PerLayer, out.perLayer) else (EndToEnd, out.endToEnd)
    val byName = got.map(m => m.name -> m.value).toMap
    require(byName.keySet.subsetOf(declared.map(_._1).toSet),
      s"undeclared metrics ${byName.keySet -- declared.map(_._1)}")
    val metrics = declared.map { case (n, u) =>
      s"${str(n)}:{\"value\":${num(byName.getOrElse(n, 0.0))},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$metrics}""")
  }
}
