package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.metrics.PipelineMetrics
import graft.plans.LogPipeline

/** `graft.Main --input <sequences> --out <dir>`: LogPipeline.run ->
  * routeWrite -> sinkSummary(openSinks), as a batch, over a seeded
  * sequences table. Each operation is one whole route job; the check
  * compares the routed store's per-sink (n, rowset_sig, total_tokens) with
  * the same values computed straight from the generated input. The traced
  * run also drives a `--curate` run, the other batch path.
  */
final class RouteBatch(ctx: Ctx) extends Workload {
  import RouteBatch._
  private def spark = ctx.spark
  private val configs = graft.data.SequenceGen.configs
  private var input: String = _
  private var expected: Map[String, (Long, Long, Long)] = Map.empty
  private var inputBytes = 0L
  private var jobNo = 0
  private var storeCols: Seq[String] = Nil

  def setup(rep: Int): Unit = {
    input = ctx.dir(s"route/input-$rep")
    Gen.sequences(spark, ctx.seed, 0, Rows, ctx.threads * 2)
      .write.mode("overwrite").parquet(input)
    expected = summaryOf(spark.read.parquet(input))
    inputBytes = Files.sizeOf(new File(input), ".parquet")._1
    if (rep == 0) ctx.ev.emit("input", "workload" -> "route_batch", "rows" -> Rows,
      "bytes" -> inputBytes, "sinks" -> expected.size)
  }

  /** The expected routed summary, computed without LogPipeline: sinks are
    * the source names made filesystem-safe.
    */
  private def summaryOf(df: DataFrame): Map[String, (Long, Long, Long)] =
    df.groupBy(regexp_replace(col("source"), "[^A-Za-z0-9_-]", "_").as("sink"))
      .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("tokens"))),
        sum(col("n_tok").cast("long")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** One `Main --out` job; returns (wall ms, summary rows). */
  private def routeJob(out: String, tr: Tracer, session: String): (Double, Array[Row]) = {
    val t0 = System.nanoTime()
    val rows = tr.span("route_job", session) {
      val enriched = tr.span("plans.run", session) {
        LogPipeline.run(spark, spark.read.parquet(input), configs)
      }
      tr.span("plans.routeWrite", session) {
        LogPipeline.routeWrite(enriched, out, spark.sparkContext.defaultParallelism)
      }
      tr.span("plans.sinkSummary", session) {
        LogPipeline.sinkSummary(LogPipeline.openSinks(spark, out)
          .withColumn("sink", LogPipeline.sinkCol)).orderBy("sink").collect()
      }
    }
    ((System.nanoTime() - t0) / 1e6, rows)
  }

  private def verdict(rows: Array[Row]): Option[String] = {
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    if (got == expected) None else Some(s"routed summary $got != expected $expected")
  }

  /** A counted, checked route job; the output dir is removed afterwards. */
  private def checkedJob(tr: Tracer): Option[Double] = {
    jobNo += 1
    val out = new File(ctx.dir("route"), s"out-$jobNo").getPath
    val id = ctx.ev.opStart("route_job")
    try {
      val (ms, rows) = routeJob(out, tr, s"job-$jobNo")
      if (storeCols.isEmpty) storeCols = spark.read.parquet(out).columns.toSeq
      val bad = verdict(rows)
      ctx.ev.opEnd(id, bad.isEmpty, bad.orNull)
      if (bad.isEmpty) Some(ms) else None
    } catch { case e: Exception =>
      ctx.ev.opEnd(id, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    } finally Files.rm(new File(out))
  }

  /** Untimed jobs until the JIT has caught up: on 4 cores job times fall
    * for about the first seven jobs of a process, then level off.
    */
  def warm(): Unit = (1 to WarmJobs).foreach(_ => checkedJob(new Tracer(false)))

  def measure(deadlineNs: Long): Unit = {
    var n = 0
    while (n < MinJobs || ctx.before(deadlineNs)) {
      checkedJob(new Tracer(false)).foreach { ms =>
        ctx.ev.sample("latency_ms", ms)
        ctx.ev.sample("throughput_per_s", Rows / (ms / 1000))
      }
      n += 1
    }
  }

  def traced(deadlineNs: Long): Unit = {
    val pm = new PipelineMetrics
    val st = new StageTime
    spark.sparkContext.addSparkListener(pm)
    spark.sparkContext.addSparkListener(st)
    val third = (deadlineNs - System.nanoTime()) / 3
    // (a) whole jobs, alternating tracing off / on: the tracing overhead,
    // plus the route job's stage split from the listeners
    val plain = Seq.newBuilder[Double]
    val stageRows = Seq.newBuilder[(String, Double)]
    val phaseA = System.nanoTime() + third
    var k = 0
    while (k < 2 || System.nanoTime() < phaseA) {
      if (k % 2 == 0) checkedJob(new Tracer(false)).foreach { ms =>
        plain += ms
        ctx.ev.sample("trace.off_ms", ms)
      } else {
        pm.reset(); st.reset()
        checkedJob(ctx.tracer).foreach(ctx.ev.sample("trace.on_ms", _))
        stageRows ++= stageSplit(pm, st)
      }
      k += 1
    }
    val thrN = Rows / (Harness.median(plain.result()) / 1000)
    Harness.groupMedians(stageRows.result()).foreach { case (k2, v) => ctx.ev.metric(k2, v) }

    // (b) the layer ladder: prefix plans ending in a noop sink
    val ladder = Seq.newBuilder[(String, Double)]
    val phaseB = System.nanoTime() + third
    var r = 0
    while (r < 2 || System.nanoTime() < phaseB) {
      ladder ++= ladderOnce(s"ladder-$r")
      r += 1
    }
    val m = Harness.groupMedians(ladder.result())
    ctx.ev.metric("sources.scan_s", m("scan"))
    ctx.ev.metric("functions.parse_s", m("parse") - m("scan"))
    ctx.ev.metric("plans.enrich_s", m("enrich") - m("parse"))
    ctx.ev.metric("plans.route_s", m("route") - m("enrich"))
    ctx.ev.metric("plans.aggregate_s", m("aggregate"))
    ctx.ev.metric("plans.route_files", m("files"))
    ctx.ev.metric("plans.route_out_bytes_per_in_byte", m("out_bytes") / inputBytes)
    spark.sparkContext.removeSparkListener(pm)
    spark.sparkContext.removeSparkListener(st)

    // (c) the ml layer: a `--curate` run, warm and then traced
    new CurateFunnel(ctx).run()

    // (d) scaling: the same job on local[1]
    if (ctx.threads > 1) {
      spark.stop()
      ctx.spark = Harness.session(1, ctx.scratch)
      spark.range(1000).count(): Unit
      checkedJob(new Tracer(false)).foreach { ms1 =>
        val thr1 = Rows / (ms1 / 1000)
        ctx.ev.metric("plans.route_scale_eff", thrN / (ctx.threads * thr1))
      }
    } else ctx.ev.metric("plans.route_scale_eff", 1.0)
  }

  /** Map stage = the stage writing the most shuffle bytes; write stage = the
    * stage writing the most output records.
    */
  private def stageSplit(pm: PipelineMetrics, st: StageTime): Seq[(String, Double)] = {
    val stages = pm.summary()
    if (stages.isEmpty) return Nil
    val map = stages.maxBy(_.shuffleWriteBytes)
    val write = stages.maxBy(_.recordsWritten)
    Seq("plans.route_map_task_s" -> st.taskMs(map.stageId) / 1000.0,
      "plans.route_write_task_s" -> st.taskMs(write.stageId) / 1000.0,
      "plans.route_shuffle_mb" -> map.shuffleWriteBytes / 1048576.0,
      "plans.route_skew" -> write.skewRatio)
  }

  /** One pass over the ladder read -> parse -> run -> routeWrite ->
    * sinkSummary; each rung is a public call, timed as its own span.
    */
  private def ladderOnce(session: String): Seq[(String, Double)] = {
    val tr = ctx.tracer
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      tr.span(s"ladder.$name", session)(body)
      name -> (System.nanoTime() - t0) / 1e9
    }
    // a rung computes only the columns the routed store keeps (read off the
    // store itself), as the route job does after column pruning
    def noop(df: DataFrame): Unit =
      df.select(storeCols.filter(df.columns.contains).map(col): _*)
        .write.format("noop").mode("overwrite").save()
    val out = new File(ctx.dir("route"), s"ladder-$session").getPath
    try {
      val rungs = Seq(
        timed("scan")(noop(spark.read.parquet(input))),
        timed("parse")(noop(LogPipeline.parse(spark.read.parquet(input)))),
        timed("enrich")(noop(LogPipeline.run(spark, spark.read.parquet(input), configs))),
        timed("route")(LogPipeline.routeWrite(
          LogPipeline.run(spark, spark.read.parquet(input), configs), out,
          spark.sparkContext.defaultParallelism)),
        timed("aggregate")(LogPipeline.sinkSummary(LogPipeline.openSinks(spark, out)
          .withColumn("sink", LogPipeline.sinkCol)).collect(): Unit))
      val (bytes, files) = Files.sizeOf(new File(out), ".parquet")
      rungs ++ Seq("files" -> files.toDouble, "out_bytes" -> bytes.toDouble)
    } finally Files.rm(new File(out))
  }

  def close(): Unit = ()
}

object RouteBatch {
  /** Input rows: one warm job takes about two seconds on 4 cores, so the
    * window holds several jobs to take a median over.
    */
  val Rows = 100000L
  val WarmJobs = 7
  val MinJobs = 5
}
