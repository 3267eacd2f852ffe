package perfbench

import java.io.File
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.{Bm25Index, Dedup, Manifest, Pipeline}

/** `ingest`: an operator ingests document batches against standing
  * dedup and BM25 indexes. A call is one
  * `Pipeline.corpusBuildIncr(docs, dir, 0.5, withBm25 = true)`: three
  * batches, each gated, exact-deduped against the standing hashes,
  * probed against the LSH index, then committed to the hash, LSH and
  * BM25 tables.
  *
  * Set-up bootstraps the empty standing tables of the call's
  * directory, so the call skips its own bootstrap. A run times one
  * call, the process's first: a warm-up call would cost as much again
  * (METRICS.md, "Sizes").
  */
object IngestWorkload {

  /** Documents of the call. A warm call costs about 24 s of per-batch
    * fixed cost plus about 1.3 s per 1,000 documents on 4 cores; the
    * first call of a process about 10 s more (METRICS.md).
    */
  val CallDocs = 3000
  val MinSim = 0.5

  /** The standing tables a call maintains, relative to its directory. */
  val Tables = Vector("hashes", "lsh/bands", "bm25/index")

  /** Bytes the local file system has written so far, process-wide. */
  def fsBytesWritten: Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  /** Empty but committed standing tables, as `corpusBuildIncr`'s own
    * bootstrap makes them.
    */
  def bootstrap(env: Env, dir: String): Unit = {
    Dedup.lshIndexInit(env.spark, s"$dir/lsh")
    Bm25Index.init(env.spark, s"$dir/bm25")
    Manifest.write(env.spark, s"$dir/hashes", Seq.empty, 1,
      schema = Some(StructType.fromDDL("h BIGINT")))
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    Main.log("ingest: start")
    val (docs, planted, path) = Inputs.corpus(env, "ingest", CallDocs)
    Main.log("ingest: inputs ready")

    // set-up, five times (one takes well under a second): load the
    // input and bootstrap one directory's standing tables. The call
    // ingests into the last directory.
    val dirs = (1 to 5).map(r => env.dir(s"standing-$r").getPath)
    val setups = dirs.map { dir =>
      val t0 = System.nanoTime()
      spark.read.parquet(path).count()
      bootstrap(env, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val corpus = spark.read.parquet(path)
    Main.log("ingest: set-up done")

    // a call takes longer than any window, so the window is one call
    val dir = dirs.last
    env.hygiene()
    val w0 = fsBytesWritten
    val ((rows, op, seconds), ws) = env.window {
      val t0 = System.nanoTime()
      val (rows, op) = env.trace.span("ops.corpusBuildIncr", "ops") {
        (Pipeline.corpusBuildIncr(corpus, dir, MinSim, withBm25 = true).collect(),
          env.trace.current.map(_._2).getOrElse(0L))
      }
      (rows, op, (System.nanoTime() - t0) / 1e9)
    }
    val written = fsBytesWritten - w0
    Main.log(f"ingest: call done, $seconds%.2f s")

    val audit = rows.toVector.map(r => Corpus.BatchAudit(r.getInt(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    val hashRows = Manifest.readTable(spark, s"$dir/hashes").count()
    val want = Corpus.ingestExpect(docs, MinSim)
    val finals = audit.map(_.nFinal).sum
    val failures =
      if (audit != want) Seq(s"audit $audit, expected $want")
      else if (hashRows != finals) Seq(s"hashes hold $hashRows rows, audit kept $finals")
      else Nil
    val commits = Tables.map(t => Manifest.currentVersion(spark, s"$dir/$t").getOrElse(0)).sum
    val files = allFiles(new File(dir))
    val nIn = audit.map(_.nIn).sum
    val inputBytes = docs.map(_.text.length.toLong).sum
    // Spark job time under each module the ingest loop calls into
    val jobFiles = Vector("Pipeline", "Dedup", "Layout", "Manifest", "Bm25Index")
    // wall time of the call with no Spark job of its own running
    val gap = seconds - Trace.unionNs(ws.jobs.map(_._1)
      .filter(_.op == op).map(s => (s.startNs, s.endNs))) / 1e9
    Outcome(
      attempted = 1,
      failures = failures,
      endToEnd = Seq(
        Metric("setup_s", Stats.median(setups)),
        Metric("throughput", nIn / seconds),
        Metric("p50_ms", seconds * 1e3),
        // one timed call: its own time is the tail too
        Metric("tail_ms", seconds * 1e3),
        Metric("stored_bytes_per_input_byte", files.map(_.length).sum.toDouble / inputBytes)),
      perLayer = jobFiles.map(f => Metric(s"ingest.job_s.$f", ws.jobSecondsUnder(f))) ++
        Seq(
          Metric("ingest.driver_gap_s", gap),
          Metric("manifest.commits_per_call", commits),
          Metric("ingest.files_written_per_call", files.size),
          Metric("ingest.bytes_written_per_call", written)) ++
        ws.layerMetrics(1, env.cpus),
      info = Seq(
        "planted" -> Inputs.info(planted),
        "call_docs" -> CallDocs.toString,
        "fixture_rows" -> nIn.toString,
        "window_s" -> Main.num(ws.wallS)))
  }

  def allFiles(d: File): Vector[File] =
    Option(d.listFiles()).toVector.flatten.flatMap(f =>
      if (f.isDirectory) allFiles(f) else Vector(f))
}
