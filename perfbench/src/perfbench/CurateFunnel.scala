package perfbench

import java.io.File

import graft.metrics.PipelineMetrics
import graft.ml.Funnel

/** `graft.Main --curate --out <dir>`: Funnel.curationFunnelOnePass over a
  * seeded crawl, then the survivors written as parquet. It runs inside
  * route_batch's traced run, so the ml layer is measured: one untraced run
  * warms the ml plans, a traced one gives the ml.* figures. `run.py` checks
  * every run's stage table against Funnel.curationFunnelSql run in DuckDB
  * over the same crawl.
  */
final class CurateFunnel(ctx: Ctx) {
  import CurateFunnel._
  private def spark = ctx.spark
  private val crawl = ctx.dir("curate/crawl")
  private var runNo = 0

  /** One `Main --curate --out` run; the stage table goes to the event log. */
  private def curate(tr: Tracer): Unit = {
    runNo += 1
    val out = new File(ctx.dir("curate"), s"survivors-$runNo").getPath
    val session = s"curate-$runNo"
    val id = ctx.ev.opStart("curate_run")
    try {
      val df = spark.read.parquet(crawl)
      val stages = tr.span("ml.curationFunnelOnePass", session) {
        Funnel.curationFunnelOnePass(df, Funnel.DefaultLmCutoff).orderBy("stage").collect()
      }
      tr.span("ml.survivors_write", session) {
        Funnel.survivors(df, Funnel.DefaultLmCutoff).write.mode("overwrite").parquet(out)
      }
      val written = spark.read.parquet(out).count()
      val last = stages.last.getLong(1)
      ctx.ev.emit("funnel", "op" -> id, "crawl" -> crawl, "stages" -> stages.map(r =>
        Map("stage" -> r.getString(0), "n_docs" -> r.getLong(1),
          "sig" -> Option(r.get(2)).map(_.toString))).toSeq)
      val ok = written == last
      ctx.ev.opEnd(id, ok, if (ok) null else s"wrote $written survivors, stage table says $last")
      if (tr.enabled) ctx.ev.metric("ml.kept_frac", last.toDouble / stages.head.getLong(1))
    } catch { case e: Exception =>
      ctx.ev.opEnd(id, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally Files.rm(new File(out))
  }

  def run(): Unit = {
    Gen.crawl(spark, ctx.seed, Pages, ctx.threads).write.mode("overwrite").parquet(crawl)
    ctx.ev.emit("input", "layer" -> "ml", "pages" -> Pages,
      "docs" -> spark.read.parquet(crawl).count(), "sql" -> Funnel.curationFunnelSql("crawl"))
    curate(new Tracer(false))
    val pm = new PipelineMetrics
    spark.sparkContext.addSparkListener(pm)
    try curate(ctx.tracer)
    finally spark.sparkContext.removeSparkListener(pm)
    ctx.ev.metric("ml.shuffle_mb", pm.summary().map(_.shuffleWriteBytes).sum / 1048576.0)
  }
}

object CurateFunnel {
  /** Crawl pages before copies (every 7th page gains a re-hosted copy). */
  val Pages = 1000L
}
