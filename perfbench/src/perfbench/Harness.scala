package perfbench

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the event log, the tracer, the
  * seed and the measuring window.
  */
final class Ctx(val ev: Events, val tracer: Tracer, val seed: Long,
    val seconds: Double, val trace: Boolean, val scratch: String, val threads: Int) {
  @volatile var spark: SparkSession = _

  def dir(name: String): String = {
    val f = new File(scratch, name)
    f.mkdirs()
    f.getPath
  }

  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong

  def before(deadlineNs: Long): Boolean = System.nanoTime() < deadlineNs
}

trait Workload {
  /** One complete set-up. Called several times; the last one is kept. */
  def setup(rep: Int): Unit
  /** Untimed warm-up after set-up, so lazy init and JIT finish first. */
  def warm(): Unit
  /** The timed window with tracing off. */
  def measure(deadlineNs: Long): Unit
  /** The traced run: spans, listener counts and the tracing overhead. */
  def traced(deadlineNs: Long): Unit
  def close(): Unit
}

/** Sum of task run time per stage — the stage time split that
  * `graft.metrics.PipelineMetrics` (max/median skew, records, shuffle bytes)
  * does not keep.
  */
final class StageTime extends SparkListener {
  private val ms = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    ms.merge(e.stageId, e.taskInfo.duration, (a, b) => a + b): Unit
  def taskMs(stage: Int): Long = Option(ms.get(stage)).map(_.longValue).getOrElse(0L)
  def reset(): Unit = ms.clear()
}

object Harness {
  val SetupReps = 3

  def session(threads: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      // shuffle width from the host, as graft.Bench and the tests size it
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val scratch = o("scratch")
    val ev = new Events(o("events"))
    val trace = o.getOrElse("trace", "0") == "1"
    val ctx = new Ctx(ev, new Tracer(trace), o("seed").toLong, o("seconds").toDouble,
      trace, scratch, o("threads").toInt)
    ev.emit("host", "threads" -> ctx.threads,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    ctx.spark = session(ctx.threads, scratch)
    val w: Workload = o("workload") match {
      case "route_batch" => new RouteBatch(ctx)
      case "search_session" => new SearchSession(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      // setup_s is an end-to-end figure: the traced run sets up once
      for (rep <- 0 until (if (trace) 1 else SetupReps)) {
        val t0 = System.nanoTime()
        w.setup(rep)
        ev.emit("setup", "rep" -> rep, "s" -> (System.nanoTime() - t0) / 1e9)
      }
      w.warm()
      ev.sample("heap_idle_mb", Jvm.liveHeapMb())
      val gc0 = Jvm.gcSeconds()
      val heap = new HeapAfterGc
      ev.emit("phase", "name" -> "measure", "t" -> ev.nowMs)
      try if (trace) w.traced(ctx.deadline()) else w.measure(ctx.deadline())
      finally heap.stop().foreach(ev.sample("heap_after_gc_mb", _))
      ev.emit("phase", "name" -> "measured", "t" -> ev.nowMs)
      ev.metric("jvm.gc_s", Jvm.gcSeconds() - gc0)
      ev.sample("heap_idle_mb", Jvm.liveHeapMb())
    } finally {
      try w.close() finally {
        ctx.tracer.flush(ev)
        ev.emit("done")
        ev.close()
        Option(ctx.spark).foreach(_.stop())
      }
    }
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def groupMedians(xs: Seq[(String, Double)]): Map[String, Double] =
    xs.groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
}
