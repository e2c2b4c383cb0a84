package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.plans.LogPipeline
import graft.streaming.StreamingPipeline

/** `graft.Main --stream` (StreamingPipeline.ingest on a processing-time
  * trigger) plus the histogramToSink and fieldCellsToSink live views over
  * the same input directory. It runs inside search_session's traced run, so
  * the streaming layer is measured: one generator thread lands pre-written
  * parquet files atomically on a fixed schedule (an open loop) at the
  * reference's 5,000 events/s, then waits for the queries to drain.
  * Freshness and backlog are computed by `run.py` from the landing times
  * and each query's progress.
  */
final class StreamLive(ctx: Ctx) {
  import StreamLive._
  private def spark = ctx.spark
  private val configs = graft.data.SequenceGen.configs
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var queries: Seq[(String, StreamingQuery)] = Nil
  private var staged: Seq[(String, File)] = Nil // (phase, file)
  private val dirs: Map[String, String] = Seq("in", "store", "hist", "cells", "ckpt", "staging")
    .map(d => d -> ctx.dir(s"stream/$d")).toMap

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      queries.find(_._2.id == p.id).foreach { case (name, _) =>
        // the file source's log offset this batch read up to: the source
        // numbers its log on its own, and a stateful query's no-data
        // batches advance the batch id but not the offset
        val offset = p.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(o => mapper.readTree(o).path("logOffset").asLong(-1L)).getOrElse(-1L)
        lastOffset.merge(name, offset, (a, b) => math.max(a, b))
        ctx.ev.emit("progress", "query" -> name, "batch" -> p.batchId, "log_offset" -> offset,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  /** The landing plan: (phase, files). */
  private def plan: Seq[(String, Int)] = {
    val base = (ctx.seconds * BaseShare * 1000 / FlushMs).toInt.max(MinBaseFiles)
    Seq(("warm", WarmFiles), ("base", base))
  }

  /** Stage every file the run will land, start the three queries, land
    * the warm-up file and wait until every query has read it, so the cold
    * first batch of each query stays out of the timed schedule.
    */
  private def setup(): Unit = {
    var lo = 0L
    staged = plan.flatMap { case (phase, n) =>
      val out = new File(dirs("staging"), phase).getPath
      Gen.sequences(spark, ctx.seed, lo, lo + RowsPerFile * n, 1)
        .write.option("maxRecordsPerFile", RowsPerFile).parquet(out)
      lo += RowsPerFile * n
      new File(out).listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        .map(f => (phase, f))
    }
    ctx.ev.emit("input", "layer" -> "streaming", "rows" -> lo, "files" -> staged.size,
      "flush_ms" -> FlushMs, "rows_per_file" -> RowsPerFile)
    spark.streams.addListener(listener)
    val trig = Trigger.ProcessingTime(TriggerMs)
    val ck = dirs("ckpt")
    queries = Seq(
      "ingest" -> StreamingPipeline.ingest(spark, dirs("in"), dirs("store"), s"$ck/ingest",
        configs, trigger = trig),
      "histogram" -> StreamingPipeline.histogramToSink(spark, dirs("in"), dirs("hist"),
        s"$ck/histogram", configs, trigger = trig),
      "fieldcells" -> StreamingPipeline.fieldCellsToSink(spark, dirs("in"), dirs("cells"),
        s"$ck/fieldcells", configs, trigger = trig))
    // started = every query has listed the (empty) input once
    val until = System.nanoTime() + 60e9.toLong
    while (queries.exists(q => q._2.status.message != "Waiting for data to arrive" &&
        q._2.status.message != "Waiting for next trigger") && System.nanoTime() < until)
      Thread.sleep(10)
    val warmFiles = staged.takeWhile(_._1 == "warm")
    land(warmFiles, System.currentTimeMillis(), 0)
    drain(warmFiles.size)
  }

  private def stopQueries(): Unit = {
    queries.foreach(q => try q._2.stop() catch { case _: Exception => () })
    queries = Nil
  }

  private val ops = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The open-loop generator: file k is due at t0 + k * FlushMs, whether
    * or not the queries have kept up.
    */
  private def land(files: Seq[(String, File)], t0: Long, first: Int): Unit =
    files.zipWithIndex.foreach { case ((phase, f), k) =>
      val due = t0 + k * FlushMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val name = f"f${first + k}%05d.parquet"
      ops.put(name, ctx.ev.opStart("landed_file"))
      JFiles.move(f.toPath, new File(dirs("in"), name).toPath, StandardCopyOption.ATOMIC_MOVE)
      ctx.ev.emit("landed", "file" -> (first + k), "name" -> name, "phase" -> phase,
        "rows" -> RowsPerFile, "due_ms" -> due, "t_ms" -> System.currentTimeMillis())
    }

  /** query -> (file name -> log offset) from the query's file-source log:
    * the offset at which the source took each file in.
    */
  private def offsetOf(query: String): Map[String, Long] = {
    val log = new File(dirs("ckpt"), s"$query/sources/0")
    Option(log.listFiles).toSeq.flatten.filter(f => !f.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().filter(_.startsWith("{")).toList finally src.close()
      }
      .map { line =>
        val n = mapper.readTree(line)
        new File(new java.net.URI(n.get("path").asText).getPath).getName -> n.get("batchId").asLong
      }.toMap
  }

  /** Files each query has finished: taken in at or below the log offset
    * of a batch that has completed.
    */
  private def finished(query: String): Set[String] = {
    val done = Option(lastOffset.get(query)).map(_.longValue).getOrElse(-1L)
    offsetOf(query).collect { case (f, o) if o <= done => f }.toSet
  }
  private val lastOffset = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Wait until every query has finished the first `n` landed files. */
  private def drain(n: Int): Unit = {
    val names = (0 until n).map(k => f"f$k%05d.parquet").toSet
    val until = System.nanoTime() + DrainCapS * 1000000000L
    while (queries.exists(q => !names.subsetOf(finished(q._1))) && System.nanoTime() < until)
      Thread.sleep(20)
  }

  def run(): Unit = try {
    setup()
    val warm = staged.count(_._1 == "warm")
    land(staged.drop(warm), System.currentTimeMillis() + 50, warm)
    drain(staged.size)
    ctx.ev.emit("drained", "t_ms" -> System.currentTimeMillis())
    queries.foreach { case (name, q) =>
      q.exception.foreach(e => ctx.ev.check(s"query.$name", ok = false, e.getMessage))
      ctx.ev.emit("batch_files", "query" -> name, "files" -> offsetOf(name))
    }
    // a landed file succeeded once every query has finished it
    val done = queries.map(q => finished(q._1)).reduce(_ intersect _)
    ops.asScala.foreach { case (name, id) =>
      ctx.ev.opEnd(id, done(name), if (done(name)) null else s"$name not read before the drain cap")
    }
    stopQueries()
    verify()
  } finally {
    stopQueries()
    spark.streams.removeListener(listener)
  }

  private def rowsOf(df: DataFrame): Set[Row] = df.collect().toSet

  /** After the drain: the store holds every landed row exactly once, and
    * both served views equal their batch twins over the same rows.
    */
  private def verify(): Unit = {
    val input = spark.read.parquet(dirs("in"))
    val store = spark.read.parquet(dirs("store"))
    def summary(df: DataFrame) = rowsOf(
      df.groupBy(regexp_replace(col("source"), "[^A-Za-z0-9_-]", "_").as("sink"))
        .agg(count(lit(1)), countDistinct(col("doc_id")),
          bit_xor(xxhash64(col("doc_id"), col("tokens"))), sum(col("n_tok").cast("long"))))
    check("store_exactly_once", summary(store), summary(input))
    val batch = LogPipeline.run(spark, input, configs)
    check("histogram", rowsOf(StreamingPipeline.servedHistogram(spark, dirs("hist"))),
      rowsOf(LogPipeline.histogram(batch)))
    check("field_profile",
      rowsOf(LogPipeline.profileFromCells(StreamingPipeline.servedFieldCells(spark, dirs("cells")))),
      rowsOf(LogPipeline.fieldProfile(batch)))
  }

  private def check(name: String, got: Set[Row], want: Set[Row]): Unit =
    ctx.ev.check(name, got == want,
      s"$name: ${(got -- want).take(3)} extra, ${(want -- got).take(3)} missing")
}

object StreamLive {
  val FlushMs = 200
  /** The reference's 5,000 events per 1 s flush, landed in 200 ms slices. */
  val RowsPerFile = 5000L * FlushMs / 1000
  val BaseShare = 0.5
  val MinBaseFiles = 20
  val TriggerMs = 200L
  val WarmFiles = 1
  val DrainCapS = 30L
}
