package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.planner.{Browse, Executor, Library, PlanJson, Planner, Serve}
import graft.sources.Sources.PlanCache

/** `browse`: people clicking through the plan space in the web
  * browser. Four closed-loop HTTP clients (a browser user waits for
  * each page) hit one in-process [[Serve]] over loopback. The goal
  * frames are materialized before timing -- an analyst's cold goal
  * jobs, timed as part of set-up -- so the mix exercises warm serving:
  * explore pages at random depth, `/goal/...` redirects, `/view` pages
  * with Zipf-skewed frame and page popularity, and some CSV downloads.
  */
object BrowseWorkload {

  val CorpusDocs = 2000
  val ColWidth = 30
  val PageSize = Browse.PageSize

  /** A served frame: the action path whose pool holds it, its index
    * in that pool, and its expected rows in the page order.
    */
  final case class Frame(name: String, q: String, index: Int,
      rows: Vector[Vector[String]]) {
    def npages: Int = math.max(1, (rows.size + PageSize - 1) / PageSize)
  }

  /** An explore state: its URL token, how many next actions it lists,
    * and its goal requests with the redirect each should answer.
    */
  final case class State(q: String, nActions: Int, goals: Vector[(String, String)])

  final case class Req(kind: String, url: String, expect: Resp => Option[String])
  type Resp = HttpResponse[Array[Byte]]
  final case class Sample(req: Req, ms: Double, resp: Resp) {
    def kind: String = req.kind
    def status: Int = resp.statusCode()
  }

  def encode(path: Seq[Planner.Action]): String =
    Base64.getUrlEncoder.withoutPadding
      .encodeToString(PlanJson.toJson(path).getBytes(UTF_8))

  def run(env: Env): Outcome = {
    val spark = env.spark
    val (docs, planted, path) = Inputs.corpus(env, "browse", CorpusDocs)
    val registry = Library.registry
    val corpus = spark.read.parquet(path)
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .followRedirects(HttpClient.Redirect.NEVER).build()
    def get(port: Int, url: String): Resp =
      http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$url"))
        .GET().build(), HttpResponse.BodyHandlers.ofByteArray())

    val cols = Vector(corpus.columns.toVector)
    def plan(goal: Vector[Vector[String]]) =
      Planner.findPath(registry, cols, goal).getOrElse(sys.error(s"no plan to $goal"))
    val frames = expectedFrames(docs, encode(plan(Top90)), encode(plan(DedupGoal)))
    Main.log("browse: inputs ready")

    // Set-up, three times over a fresh cache directory and its own
    // source plan (so each one computes from scratch): an analyst's
    // cold goal jobs -- plan from the goal name, run the plan,
    // materialize the goal frame into the plan cache -- then a fresh
    // server, cold until every served frame answers its first page.
    var serve: Serve = null
    val goalJobs = Vector.newBuilder[GoalJob]
    val setups = (1 to 3).map { r =>
      if (serve != null) serve.stop()
      val cacheDir = env.dir(s"serve-cache-$r").getPath
      val t0 = System.nanoTime()
      val src = corpus.filter(col("doc_id") > -r).select("doc_id", "text")
      goalJobs ++= Vector("top90" -> Top90, "dedup" -> DedupGoal).map { case (name, goal) =>
        goalJob(env, name, goal, src, cacheDir)
      }
      val t1 = System.nanoTime()
      serve = new Serve(registry, Seq(src), cacheDir)
      val port = serve.boundPort
      var pending = frames.map(f => s"/view/0/${f.index}/${f.q}")
      var first = 0.0
      while (pending.nonEmpty) {
        pending = pending.filter { u =>
          val s = get(port, u).statusCode()
          require(s == 200 || s == 202, s"prefill $u answered $s")
          s != 200
        }
        if (first == 0.0 && pending.size < frames.size)
          first = (System.nanoTime() - t1) / 1e9
        if (pending.nonEmpty) Thread.sleep(10)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      Main.log(f"browse: set-up $r: $secs%.2f s, goal jobs ${(t1 - t0) / 1e9}%.2f s")
      (secs, first)
    }
    val goals = goalJobs.result()
    val goalFailures = goals.flatMap(checkGoal(_, docs))
    val port = serve.boundPort
    Main.log("browse: set-up done")

    try {
      val states = exploreStates(registry, Seq(corpus.select("doc_id", "text")),
        new SplittableRandom(env.seed ^ 0x5eedL), 4)
      def loop(seconds: Double, seedSalt: Long): Vector[Sample] = {
        val mix = new Mix(frames, states, new SplittableRandom(env.seed * 7919L + seedSalt))
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        // one closed-loop client per core, at most four
        val threads = (0 until env.cpus.min(4)).map { _ =>
          val out = Vector.newBuilder[Sample]
          val t = new Thread(() => {
            while (System.nanoTime() < deadline) {
              val req = mix.next()
              val t0 = System.nanoTime()
              val resp = env.trace.span(s"http.${req.kind}", "client")(get(port, req.url))
              val ms = (System.nanoTime() - t0) / 1e6
              out += Sample(req, ms, resp)
            }
          })
          t.start()
          (t, out)
        }
        threads.flatMap { case (t, out) => t.join(); out.result() }.toVector
      }

      // warm the serving path outside the window
      loop(1.0, 1000L)
      env.hygiene()
      Main.log("browse: warm-up done")
      val (samples, ws) = env.window(loop(env.seconds, 0L))
      Main.log(s"browse: window done, ${samples.size} requests")

      // responses are checked after the window, off the clients' loop
      val failures = goalFailures ++
        samples.flatMap(s => s.req.expect(s.resp).map(f => s"${s.kind}: $f"))
      val lat = Stats.summarize(samples.map(_.ms))
      def kindP50(k: String) = {
        val xs = samples.filter(_.kind == k).map(_.ms)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      val views = samples.count(_.kind == "view")
      val waits = samples.count(s => (s.kind == "view" || s.kind == "csv") && s.status == 202)
      val cacheBytes = dirBytes(env.dir("serve-cache-3"))
      val inputBytes = docs.map(_.text.length.toLong).sum
      Outcome(
        attempted = goals.size.toLong + samples.size,
        failures = failures,
        endToEnd = Seq(
          Metric("setup_s", Stats.median(setups.map(_._1))),
          Metric("throughput", samples.size / ws.wallS),
          Metric("p50_ms", lat.p50),
          Metric("tail_ms", lat.tail),
          Metric("stored_bytes_per_input_byte", cacheBytes.toDouble / inputBytes)),
        perLayer = Seq(
          Metric("serve.explore_p50_ms", kindP50("explore")),
          Metric("serve.goal_p50_ms", kindP50("goal")),
          Metric("serve.view_p50_ms", kindP50("view")),
          Metric("serve.csv_p50_ms", kindP50("csv")),
          Metric("serve.spark_jobs_per_view", ws.jobs.size.toDouble / views.max(1)),
          Metric("serve.wait_ratio",
            waits.toDouble / samples.count(s => s.kind == "view" || s.kind == "csv").max(1)),
          Metric("serve.prefill_first_view_s", Stats.median(setups.map(_._2)))) ++
          goalMetrics(env, goals) ++
          ws.layerMetrics(samples.size, env.cpus),
        info = Seq(
          "planted" -> Inputs.info(planted),
          "requests" -> samples.size.toString,
          "by_kind" -> samples.groupBy(_.kind).map { case (k, v) =>
            s"${Main.str(k)}:${v.size}" }.mkString("{", ",", "}"),
          "p50_ms_by_kind" -> samples.groupBy(_.kind).map { case (k, v) =>
            s"${Main.str(k)}:${Main.num(Stats.median(v.map(_.ms)))}" }.mkString("{", ",", "}"),
          "tail_pct" -> Main.num(lat.tailPct),
          "window_s" -> Main.num(ws.wallS)))
    } finally serve.stop()
  }

  // ------------------------------------------------------ goal jobs

  val Top90 = Vector(Vector("text.tokens.top90"))
  val DedupGoal = Vector(Vector("text.canonical_id", "text.n_copies"))

  final case class GoalJob(goal: String, out: DataFrame, expansions: Int,
      bytes: Long, files: Int)

  /** One cold goal job through the public entry points: plan search,
    * plan execution, plan-cache materialization.
    */
  def goalJob(env: Env, name: String, goal: Vector[Vector[String]], src: DataFrame,
      cacheDir: String): GoalJob = {
    val (out, expansions) = env.trace.span(s"goal.job:$name", "client") {
      val (plan, expansions) = env.trace.span("planner.findPathAStarCounted", "planner") {
        Planner.findPathAStarCounted(Library.registry, Vector(src.columns.toVector), goal)
      }
      val pool = env.trace.span("executor.runPath", "planner") {
        Executor.runPath(Seq(src), plan.getOrElse(sys.error(s"no plan to $goal")))
      }
      if (env.trace.enabled)
        env.trace.span("spark.executedPlan", "spark")(pool.last.queryExecution.executedPlan)
      val out = env.trace.span("plancache.materialize", "sources") {
        PlanCache.materialize(env.spark, pool.last, cacheDir)
      }
      (out, expansions)
    }
    val written = out.inputFiles.map(f => new java.io.File(new URI(f)))
    GoalJob(name, out, expansions, written.map(_.length).sum, written.length)
  }

  /** A materialized goal frame against the driver-side answer: the 90%
    * mass cut over the token counts, or one group per distinct text.
    */
  def checkGoal(j: GoalJob, docs: Vector[Doc]): Option[String] = {
    def key(x: (Any, Long)) = (String.valueOf(x._1), x._2)
    val got = j.out.collect().toVector.map(r => key((r.get(0), r.getLong(1))))
    val want: Vector[(Any, Long)] =
      if (j.goal == "top90") Corpus.topPCut(Corpus.tokenCounts(docs), 0.9)
      else Corpus.exactGroups(docs)
    if (got.sorted == want.map(key).sorted) None
    else Some(s"goal ${j.goal}: ${got.size} rows, expected ${want.size}")
  }

  def goalMetrics(env: Env, jobs: Vector[GoalJob]): Seq[Metric] = {
    val spans = env.trace.all
    def spanMs(name: String) = {
      val xs = spans.filter(_.name == name).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val rows = jobs.map(_.out.count()).sum
    Seq(
      Metric("planner.findpath_ms", spanMs("planner.findPathAStarCounted")),
      Metric("planner.expansions", Stats.median(jobs.map(_.expansions.toDouble))),
      Metric("executor.runpath_ms", spanMs("executor.runPath")),
      Metric("plancache.materialize_s", spanMs("plancache.materialize") / 1e3),
      Metric("plancache.bytes_per_row", jobs.map(_.bytes).sum.toDouble / rows.max(1)),
      Metric("plancache.files_per_job", jobs.map(_.files).sum.toDouble / jobs.size),
      Metric("spark.plan_ms", spanMs("spark.executedPlan")))
  }

  def dirBytes(d: java.io.File): Long =
    Option(d.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) dirBytes(f) else f.length()
    }.sum

  // ----------------------------------------------------- request mix

  /** A seeded shuffled deck: every card is dealt once before the deck
    * is reshuffled, so a run's mix follows the card counts closely
    * instead of drifting with each draw.
    */
  final class Deck[A](cards: Vector[A], rng: SplittableRandom) {
    private var left: List[A] = Nil
    def deal(): A = {
      if (left.isEmpty) left = new scala.util.Random(rng.nextLong()).shuffle(cards).toList
      val c = left.head
      left = left.tail
      c
    }
  }

  /** Zipf(1) popularity as card counts: rank k gets round(12 / k). */
  def zipfCards[A](ranked: Vector[A]): Vector[A] =
    ranked.zipWithIndex.flatMap { case (a, k) => Vector.fill(math.round(12.0 / (k + 1)).toInt)(a) }

  /** Page tokens by popularity: first pages, the last page, the next
    * pages, negative offsets, and a deep page.
    */
  val PageKinds = Vector("0", "1", "last", "2", "first", "-1", "deep", "-2")

  /** The request mix, shared by all clients: 30% explore pages, 10%
    * goal redirects, 50% views, 10% CSV downloads.
    */
  final class Mix(frames: Vector[Frame], states: Vector[State], rng: SplittableRandom) {
    private val kinds = new Deck(Vector.fill(3)("explore") ++ Vector("goal") ++
      Vector.fill(5)("view") ++ Vector("csv"), rng)
    private val explores = new Deck(states, rng)
    private val goals = new Deck(states.flatMap(_.goals), rng)
    private val views = new Deck(zipfCards(frames), rng)
    private val pages = new Deck(zipfCards(PageKinds), rng)
    private val csvs = new Deck(zipfCards(frames), rng)

    def next(): Req = synchronized {
      kinds.deal() match {
        case "explore" =>
          val s = explores.deal()
          Req("explore", s"/explore/${s.q}", r =>
            if (r.statusCode() != 200) Some(s"explore answered ${r.statusCode()}")
            else {
              val n = "<li>\\[".r.findAllMatchIn(new String(r.body(), UTF_8)).size
              if (n == s.nActions) None
              else Some(s"explore listed $n actions, expected ${s.nActions}")
            })
        case "goal" =>
          val (url, want) = goals.deal()
          Req("goal", url, r =>
            if (r.statusCode() != 302) Some(s"goal answered ${r.statusCode()}")
            else {
              val loc = r.headers().firstValue("Location").orElse("")
              if (loc == want) None else Some(s"goal redirected to $loc, expected $want")
            })
        case "view" =>
          val f = views.deal()
          val n = f.npages
          val token = pages.deal() match {
            case "deep" => (3 + rng.nextInt(math.max(1, n - 3))).toString
            case k => k
          }
          val page = token match {
            case "first" => 0
            case "last" => n - 1
            case p =>
              val i = p.toInt
              if (i < 0) (n + i).max(0) else i.min(n - 1)
          }
          Req("view", s"/view/$token/${f.index}/${f.q}", r => checkView(r, f, page))
        case _ =>
          val f = csvs.deal()
          Req("csv", s"/download/csv/${f.index}/${f.q}", r =>
            if (r.statusCode() != 200) Some(s"csv answered ${r.statusCode()}")
            else {
              val len = r.headers().firstValueAsLong("Content-Length").orElse(-1L)
              val lines = r.body().count(_ == '\n')
              if (len != r.body().length) Some(s"csv body ${r.body().length} B, Content-Length $len")
              else if (lines != f.rows.size + 1)
                Some(s"csv ${f.name} has $lines lines, expected ${f.rows.size + 1}")
              else None
            })
      }
    }
  }

  private val TitleRe = """frame #(\d+) page (-?\d+)/(\d+)""".r
  private val RowRe = """<tr>((?:<td>.*?</td>)+)</tr>""".r
  private val CellRe = """<td>(.*?)</td>""".r

  def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;")
    .replace(">", "&gt;").replace("\"", "&quot;")

  def cell(s: String): String =
    esc(if (s.length > ColWidth) s.take(ColWidth) + "..." else s)

  /** A view page: status, page number, row count and every cell. */
  def checkView(r: Resp, f: Frame, page: Int): Option[String] =
    if (r.statusCode() != 200) Some(s"view answered ${r.statusCode()}")
    else {
      val html = new String(r.body(), UTF_8)
      val want = f.rows.slice(page * PageSize, (page + 1) * PageSize)
      TitleRe.findFirstMatchIn(html) match {
        case None => Some("view page has no title")
        case Some(m) if m.group(2).toInt != page || m.group(3).toInt != f.npages - 1 =>
          Some(s"${f.name} page ${m.group(2)}/${m.group(3)}, expected $page/${f.npages - 1}")
        case _ =>
          val got = RowRe.findAllMatchIn(html)
            .map(m => CellRe.findAllMatchIn(m.group(1)).map(_.group(1)).toVector).toVector
          if (got.size != want.size)
            Some(s"${f.name} page $page has ${got.size} rows, expected ${want.size}")
          else if (got != want.map(_.map(cell)))
            Some(s"${f.name} page $page differs from the expected slice")
          else None
      }
    }

  // ---------------------------------------------------- expectations

  /** The served frames with their rows in the server's page order
    * (every column ascending), computed on the driver from the
    * generated documents.
    */
  def expectedFrames(docs: Vector[Doc], qTop: String, qDedup: String): Vector[Frame] = {
    def str[A](rows: Vector[Seq[Any]]) = rows.map(_.map(String.valueOf).toVector)
    val source = docs.map(d => (d.id, d.text)).sorted
    val counts = Corpus.tokenCounts(docs)
    val top = Corpus.topPCut(counts, 0.9).sorted
    val dedup = Corpus.exactGroups(docs)
    // most popular first (Zipf rank)
    Vector(
      Frame("top90", qTop, 3, str(top.map(x => Seq(x._1, x._2)))),
      Frame("dedup", qDedup, 1, str(dedup.map(x => Seq(x._1, x._2)))),
      Frame("source", qTop, 0, str(source.map(x => Seq(x._1, x._2)))))
  }

  /** Seeded random walks through the plan space, `n` of each depth
    * 0-3, with the number of next actions each state lists.
    */
  def exploreStates(registry: graft.planner.TaskRegistry, sources: Seq[DataFrame],
      rng: SplittableRandom, n: Int): Vector[State] =
    Vector.tabulate(4 * n) { i =>
      val depth = i % 4
      var s = Browse.open(registry, sources)
      for (_ <- 0 until depth) {
        val acts = Browse.actions(s)
        if (acts.nonEmpty) s = Browse.step(s, rng.nextInt(acts.size))
      }
      val q = encode(s.path)
      val goals = Vector(Top90, DedupGoal).map { g =>
        val p = Planner.findPath(registry, s.pool.map(_.columns.toVector), g)
          .getOrElse(sys.error(s"no plan to $g"))
        (s"/goal/${g.head.mkString(",")}" + (if (q.isEmpty) "" else s"/$q"),
          s"/explore/${encode(s.path ++ p)}")
      }
      State(q, Browse.actions(s).size, goals)
    }
}
