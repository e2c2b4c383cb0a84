package perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.{HttpApi, JobsApi}
import graft.compile.QueryEngine
import graft.metrics.PipelineMetrics
import graft.plans.LogPipeline

/** `graft.Main --serve`: a store routed by the code under test, served by
  * HttpApi over JobsApi(QueryEngine(openSinks)). Two closed-loop clients
  * run search sessions on loopback: startJob, poll jobStats until finished,
  * the first jobResults page, two more pages, jobFieldStats, releaseJob.
  * Every response is checked against the generator's closed form. The
  * traced run also drives a live `--stream` ingest with its two views.
  */
final class SearchSession(ctx: Ctx) extends Workload {
  import SearchSession._
  private def spark = ctx.spark
  private val configs = graft.data.SequenceGen.configs
  private val mapper = new ObjectMapper()
  private val truth: Array[Gen.Row] = Array.tabulate(StoreRows.toInt)(i => Gen.row(ctx.seed, i.toLong))
  private var api: JobsApi = _
  private var engine: QueryEngine = _
  private var http: HttpApi = _
  private var port = 0
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val startedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  @volatile private var cacheMbMax = 0.0
  private val matchedSum = new java.util.concurrent.atomic.AtomicLong(0)

  def setup(rep: Int): Unit = {
    Option(http).foreach(_.stop())
    val input = ctx.dir(s"search/input-$rep")
    val store = ctx.dir(s"search/store-$rep")
    Gen.sequences(spark, ctx.seed, 0, StoreRows, ctx.threads)
      .write.mode("overwrite").parquet(input)
    val enriched = LogPipeline.run(spark, spark.read.parquet(input), configs)
    LogPipeline.routeWrite(enriched, store, spark.sparkContext.defaultParallelism)
    engine = new QueryEngine(LogPipeline.openSinks(spark, store), configs)
    api = new JobsApi(engine)
    http = new HttpApi(api)
    port = http.start(0)
    if (rep == 0) ctx.ev.emit("input", "workload" -> "search_session", "rows" -> StoreRows,
      "clients" -> Clients, "shapes" -> Shapes)
  }

  // ------------------------------------------------------------ queries

  /** A session's query and its closed-form expectation. */
  final case class Query(shape: String, text: String, start: Option[Long], end: Option[Long]) {
    def inWindow(r: Gen.Row): Boolean =
      start.forall(r.i >= _) && end.forall(r.i <= _)
  }

  final case class Expect(count: Long, ids: Seq[String], table: Option[Seq[Seq[String]]],
      userCounts: Map[String, Long])

  def query(k: Long): Query = {
    // shapes go round-robin from a seeded offset, so every run has the same
    // mix; the seed picks the offset and each query's parameters
    val rnd = new java.util.SplittableRandom(Gen.mix(ctx.seed ^ 0x51ed27L, k))
    val shape = Shapes(Math.floorMod(k + ctx.seed, Shapes.size.toLong).toInt)
    val user = rnd.nextInt(100)
    val text = shape match {
      case "fragment" => "reticulated"
      case "wildcard" => "pass*"
      case "field" => s"userid=$user"
      case "in" => s"userid IN ($user, ${(user + 17) % 100}, ${(user + 41) % 100})"
      case "not" => "source=log-1.txt NOT reticulated"
      case "source" => Seq("source=access-0.log", "source=json-0.log", "source=log-2.txt")(rnd.nextInt(3))
      case "rex" => s"""reticulated | rex "numSplines=(?P<ns>\\d+)" | where ns=${rnd.nextInt(200)}"""
      case "where" => s"password | where userid=$user"
      case "stats" => "source=access-* | stats fn=count by=status"
      case "table" => s"""userid=$user | table "userid,username""""
      case "surrounding" =>
        f"| surrounding eventId=doc-${rnd.nextLong(StoreRows)}%012d count=$SurroundCount"
    }
    // half the sessions are bounded by absolute start/end times: a third of
    // the store, at a seeded position
    if (k % 2 == 0 && shape != "surrounding") {
      val len = StoreRows / 3
      val lo = rnd.nextLong(StoreRows - len)
      Query(shape, text, Some(lo), Some(lo + len))
    } else Query(shape, text, None, None)
  }

  /** The expected result, from the generated attributes alone. */
  def expect(q: Query): Expect = {
    val userIn: Set[Int] = "userid(?:=| IN \\()(\\d+)(?:, (\\d+), (\\d+))?".r
      .findFirstMatchIn(q.text).map(_.subgroups.filter(_ != null).map(_.toInt).toSet)
      .getOrElse(Set.empty)
    def kvUser(r: Gen.Row) = r.isKv && userIn.contains(r.user)
    val pred: Gen.Row => Boolean = q.shape match {
      case "fragment" => r => r.isKv && r.tmpl == 0
      case "wildcard" => r => r.isKv && r.tmpl == 1
      case "field" | "in" | "table" => kvUser
      case "not" => r => r.source == "log-1.txt" && r.tmpl != 0
      case "source" => r => q.text.endsWith(r.source)
      case "rex" =>
        val ns = q.text.split("=").last.toInt
        r => r.isKv && r.tmpl == 0 && r.splines == ns
      case "where" => r => r.isKv && r.tmpl == 1 && userIn.contains(r.user)
      case "stats" => r => r.isAccess
      case "surrounding" => _ => false
    }
    val matched: Seq[Gen.Row] = q.shape match {
      case "surrounding" =>
        val base = truth(q.text.split("doc-")(1).take(12).toInt)
        val same = truth.filter(_.source == base.source)
        val up = same.filter(_.i <= base.i).takeRight(SurroundCount / 2)
        val down = same.filter(_.i > base.i).take(SurroundCount / 2)
        (up ++ down).sortBy(-_.i).toSeq
      case _ => truth.filter(r => q.inWindow(r) && pred(r)).reverse.toSeq
    }
    def users(rows: Seq[Gen.Row]) = rows.filter(_.isKv)
      .groupBy(_.user.toString).map { case (u, rs) => u -> rs.size.toLong }
    q.shape match {
      case "stats" =>
        val groups = matched.groupBy(_.status.toString).toSeq
          .map { case (s, rs) => Seq(s, rs.size.toString) }
        Expect(groups.size, Nil, Some(groups), Map.empty)
      case "table" =>
        val rows = matched.map(r => Seq(r.user.toString, if (r.tmpl == 1) s"user${r.user}" else ""))
        Expect(rows.size, Nil, Some(rows), users(matched))
      case _ => Expect(matched.size, matched.map(_.docId), None, users(matched))
    }
  }

  // -------------------------------------------------------------- client

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def rfc3339(i: Long) = Instant.ofEpochSecond(Gen.baseEpochS + i).toString

  /** One counted HTTP request; a non-200 answer fails it. */
  private def call(kind: String, method: String, path: String): JsonNode = {
    val id = ctx.ev.opStart(s"http.$kind")
    try {
      val b = HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/api/v1/$path"))
        .timeout(java.time.Duration.ofSeconds(60))
      val req = (if (method == "POST") b.POST(HttpRequest.BodyPublishers.noBody()) else b.GET()).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode != 200) throw new IllegalStateException(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
      val node = mapper.readTree(resp.body)
      ctx.ev.opEnd(id, ok = true)
      node
    } catch { case e: Throwable =>
      ctx.ev.opEnd(id, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      throw e
    }
  }

  /** The session surface, over HTTP (measured) or JobsApi in-process (traced). */
  private trait Surface {
    def start(q: Query): Long
    def stats(id: Long): (Int, Long)
    def page(id: Long, skip: Int): Seq[Seq[String]]
    def fieldStats(id: Long): Map[String, Long]
  }

  private object Http extends Surface {
    def start(q: Query): Long = {
      val bounds = (q.start.map(s => s"&startTime=${enc(rfc3339(s))}") ++
        q.end.map(e => s"&endTime=${enc(rfc3339(e))}")).mkString
      call("startJob", "POST", s"startJob?searchString=${enc(q.text)}$bounds").asLong
    }
    def stats(id: Long): (Int, Long) = {
      val n = call("jobStats", "GET", s"jobStats?jobId=$id")
      (n.get("State").asInt, n.get("NumMatchedEvents").asLong)
    }
    def page(id: Long, skip: Int): Seq[Seq[String]] = {
      val n = call("jobResults", "GET", s"jobResults?jobId=$id&skip=$skip&take=$PageSize")
      if (n.get("resultType").asInt == 1) n.get("events").elements.asScala.map(e => Seq(e.get("Id").asText)).toSeq
      else {
        val order = n.get("columnOrder").elements.asScala.map(_.asText).toSeq
        n.get("tableRows").elements.asScala.map(r => order.map(c => r.get(c).asText)).toSeq
      }
    }
    def fieldStats(id: Long): Map[String, Long] =
      call("jobFieldStats", "GET", s"jobFieldStats?jobId=$id&fieldName=userid")
        .fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  }

  /** The same calls through JobsApi, each a counted op and a span. */
  private final class InProcess(tr: Tracer, session: String) extends Surface {
    private def sp[A](kind: String)(body: => A): A = {
      val id = ctx.ev.opStart(s"api.$kind")
      try { val a = tr.span(s"api.$kind", session)(body); ctx.ev.opEnd(id, ok = true); a }
      catch { case e: Throwable => ctx.ev.opEnd(id, ok = false, e.toString); throw e }
    }
    private def ts(i: Long) = java.sql.Timestamp.from(Instant.ofEpochSecond(Gen.baseEpochS + i))
    def start(q: Query): Long = {
      val t0 = System.nanoTime()
      tr.span("compile.compile", session)(engine.compile(q.text, q.start.map(ts), q.end.map(ts))): Unit
      sample("compile.compile_ms", (System.nanoTime() - t0) / 1e6)
      sp("startJob")(api.startJob(q.text, startTime = q.start.map(ts), endTime = q.end.map(ts)).id)
    }
    def stats(id: Long): (Int, Long) = sp("jobStats") {
      val s = api.jobStats(id)
      (HttpApi.stateCode(s.state), s.numMatchedEvents)
    }
    def page(id: Long, skip: Int): Seq[Seq[String]] = sp("jobResults") {
      api.job(id).get.frame match {
        case _: graft.compile.EventsFrame =>
          api.jobResultsWireJson(id, skip, PageSize).map(s => Seq(mapper.readTree(s).get("Id").asText)).toSeq
        case graft.compile.TableFrame(_, order) =>
          api.jobResults(id, skip, PageSize).collect().map(r => order.map(c => String.valueOf(r.getAs[Any](c)))).toSeq
      }
    }
    def fieldStats(id: Long): Map[String, Long] = sp("jobFieldStats") {
      api.jobFieldStats(id, "userid").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** Off during the warm-up sessions, so only timed sessions leave samples. */
  @volatile private var measuring = false

  private def sample(name: String, ms: Double): Unit = if (measuring) ctx.ev.sample(name, ms)

  private def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    sample(name, (System.nanoTime() - t0) / 1e6)
    a
  }

  /** One session; returns whether every response matched, and the job it
    * started (-1 if none), which the caller releases.
    */
  private def session(k: Long, surface: Surface, tr: Tracer): (Boolean, Long) = {
    val q = query(k)
    val exp = expect(q)
    val sid = s"session-$k"
    var jobId = -1L
    val ok = try tr.span("session", sid) {
      val t0 = System.nanoTime()
      jobId = timed("api.start_job_ms")(surface.start(q))
      startedIds.add(jobId)
      var st = timed("api.stats_ms")(surface.stats(jobId))
      val pollUntil = System.nanoTime() + 60e9.toLong
      while (st._1 == 1 && System.nanoTime() < pollUntil) {
        Thread.sleep(2)
        st = timed("api.stats_ms")(surface.stats(jobId))
      }
      val first = surface.page(jobId, 0)
      val firstMs = (System.nanoTime() - t0) / 1e6
      sample("first_page_ms", firstMs)
      sample(if (tr.enabled) "trace.on_ms" else "trace.off_ms", firstMs)
      sample(s"api.first_page_ms.${q.shape}", firstMs)
      val more = (1 until Pages).filter(p => p * PageSize < st._2)
        .flatMap(p => timed("api.page_ms")(surface.page(jobId, p * PageSize)))
      val fs = timed("api.field_stats_ms")(surface.fieldStats(jobId))
      if (measuring) cacheMbMax = math.max(cacheMbMax, cachedMb())
      val got = first ++ more
      val problems = Seq[(Boolean, () => String)](
        (st._1 != 2) -> (() => s"state ${st._1}"),
        (st._2 != exp.count) -> (() => s"NumMatchedEvents ${st._2} != ${exp.count}"),
        (exp.table.isEmpty && got.map(_.head) != exp.ids.take(Pages * PageSize)) ->
          (() => s"pages ${got.take(3)}... != newest-first ${exp.ids.take(3)}..."),
        exp.table.exists(t => got.size != math.min(t.size, Pages * PageSize) || !subMultiset(got, t)) ->
          (() => s"table rows ${got.take(3)} not in expected ${exp.table.map(_.take(3))}"),
        (fs != exp.userCounts) -> (() => s"field stats $fs != ${exp.userCounts}")
      ).collect { case (true, msg) => msg() }
      if (problems.nonEmpty) throw new IllegalStateException(problems.mkString("; "))
      matchedSum.addAndGet(st._2)
      true
    } catch { case e: Throwable =>
      // a wrong or failed session counts as one more failed operation
      ctx.ev.check("session", ok = false, s"[${q.shape}] ${q.text} ${q.start} ${q.end}: ${e.getMessage}")
      false
    }
    (ok, jobId)
  }

  private def release(jobId: Long): Unit =
    if (jobId >= 0) ctx.ev.op("api.releaseJob")(api.releaseJob(jobId)): Unit

  private def subMultiset(got: Seq[Seq[String]], all: Seq[Seq[String]]): Boolean = {
    val left = mutable.Map[Seq[String], Int]().withDefaultValue(0)
    all.foreach(r => left(r) += 1)
    got.forall { r => left(r) -= 1; left(r) >= 0 }
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Two closed-loop clients; session numbers are handed out in order, so
    * the query sequence depends on the seed alone. Each correct session's
    * wall time is a sample: with no think time, the loop's rate is
    * clients / session time, which run.py takes at the median session.
    * With `holdLast`, each client leaves its last job open in `held`.
    */
  private def clients(deadlineNs: Long, minSessions: Int, surface: Long => (Surface, Tracer),
      first: Long = 0L, holdLast: Boolean = false): Unit = {
    val next = new java.util.concurrent.atomic.AtomicLong(first)
    def more(k: Long) = k < first + minSessions || System.nanoTime() < deadlineNs
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (more(k)) {
          val (s, tr) = surface(k)
          val t0 = System.nanoTime()
          val (ok, job) = session(k, s, tr)
          if (ok) sample("session_ms", (System.nanoTime() - t0) / 1e6)
          k = next.getAndIncrement()
          if (holdLast && !more(k) && job >= 0) held.add(job) else release(job)
        }
      }, s"search-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  /** Rounds of the shapes (sessions numbered from -1000) on the surface
    * the run uses, untimed: the first sessions of a process pay for
    * compiling each shape's plans and for the JIT.
    */
  def warm(): Unit = {
    val s = if (ctx.trace) new InProcess(new Tracer(false), "") else Http
    clients(System.nanoTime(), WarmRounds * Shapes.size, _ => (s, new Tracer(false)), first = -1000L)
  }

  private val held = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  def measure(deadlineNs: Long): Unit = {
    measuring = true
    clients(deadlineNs, MinSessions, _ => (Http, new Tracer(false)), holdLast = true)
    // the heap jobs hold: a full GC with each client's last job still open
    ctx.ev.sample("heap_jobs_open_mb", Jvm.liveHeapMb())
    held.asScala.foreach(release(_))
    ctx.ev.metric("api.cache_mb", cacheMbMax)
    ctx.ev.metric("api.jobs_live_at_end", startedIds.asScala.count(id => api.job(id).isDefined).toDouble)
  }

  def traced(deadlineNs: Long): Unit = {
    val pm = new PipelineMetrics
    spark.sparkContext.addSparkListener(pm)
    matchedSum.set(0)
    measuring = true
    // sessions 0-1 of every four traced, 2-3 not: the gap is the tracing
    // overhead. query() bounds the even sessions, so tracing must not
    // follow k's parity, or the gap would compare bounded with unbounded
    clients(deadlineNs, MinSessions, k =>
      if (Math.floorMod(k / 2, 2L) == 0) (new InProcess(ctx.tracer, s"session-$k"), ctx.tracer)
      else (new InProcess(new Tracer(false), ""), new Tracer(false)))
    spark.sparkContext.removeSparkListener(pm)
    val read = pm.summary().map(_.recordsRead).sum.toDouble
    ctx.ev.metric("api.rows_read_per_match", read / math.max(1L, matchedSum.get))
    ctx.ev.metric("api.cache_mb", cacheMbMax)
    ctx.ev.metric("api.jobs_live_at_end", startedIds.asScala.count(id => api.job(id).isDefined).toDouble)
    // the streaming layer: a `--stream` ingest plus its two live views
    new StreamLive(ctx).run()
  }

  def close(): Unit = Option(http).foreach(_.stop())
}

object SearchSession {
  val StoreRows = 8000L
  val Clients = 2
  val PageSize = 50
  val Pages = 3
  val SurroundCount = 10
  /** Two whole rounds of the shapes, so every seed times the same mix
    * (each shape once bounded, once not), and more first pages than the 20
    * a median with ten samples beyond it needs.
    */
  val MinSessions = 22
  /** One round leaves the JIT still catching up during the timed sessions. */
  val WarmRounds = 2
  val Shapes: Seq[String] = Seq("fragment", "wildcard", "field", "in", "not", "source",
    "rex", "where", "stats", "table", "surrounding")
}
