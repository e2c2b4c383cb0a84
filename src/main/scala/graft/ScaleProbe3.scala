package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.data.SequenceGen
import graft.plans.LogPipeline
import graft.util.ProbeSupport.timeSecs

/** Diagnostic (not driver contract): scaling N vs 4N *executor processes*
  * via Spark's `local-cluster[workers,cores,memMB]` master — each executor
  * is its own JVM with its own heap/GC, matching a real cluster's process
  * isolation far better than local[k] threads sharing one heap. Requires
  * the app jar (sbt package) so executors can load graft classes.
  */
object ScaleProbe3 {
  private def jarPath: String = {
    val f = new java.io.File("target/scala-2.13").listFiles()
      .filter(f => f.getName.endsWith(".jar") && !f.getName.contains("sources"))
      .maxBy(_.lastModified())
    f.getAbsolutePath
  }

  private def session(workers: Int, cores: Int, memMb: Int): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val mult = sys.env.getOrElse("PROBE_PARTS_MULT", "1").toInt
    val s = SparkSession.builder()
      .master(s"local-cluster[$workers,$cores,$memMb]")
      .appName(s"probe-lc-$workers")
      .config("spark.sql.shuffle.partitions", (workers * cores * mult).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.jars", jarPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(spark: SparkSession, in: String, out: String): Double = timeSecs {
    val enriched = LogPipeline.run(spark, spark.read.parquet(in), SequenceGen.configs)
    val parts = sys.env.get("PROBE_ROUTE_PARTS").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // PROBE_MODE: full (default) | count (parse+enrich map only)
    sys.env.getOrElse("PROBE_MODE", "full") match {
      case "count" =>
        enriched.agg(org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("ts")),
          org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n_tok"))).collect(): Unit
      case _ =>
        LogPipeline.routeWrite(enriched, out, parts)
        spark.read.parquet(out).groupBy("sink").count().collect(): Unit
    }
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("PROBE_ROWS", "8000000").toLong
    val base = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    // sweep leftovers of prior probe invocations — accumulated tmpfs steals
    // RAM from the page cache and poisons later measurements
    base.toFile.listFiles((_, n) => n.startsWith("probe3-")) match {
      case null => ()
      case old => old.foreach(graft.util.Dirs.deleteRecursively)
    }
    val in = Files.createTempDirectory(base, "probe3-in").toString
    val out = Files.createTempDirectory(base, "probe3-out").toString
    locally {
      val s = SparkSession.builder().master("local[32]")
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      SequenceGen.sequences(s, rows, 64).write.mode("overwrite").parquet(in)
      s.stop()
    }
    // N executors x cores vs 4N executors x cores (separate JVMs per worker)
    val nSmall = sys.env.getOrElse("PROBE_N", "1").toInt
    val cores = sys.env.getOrElse("PROBE_CORES", "4").toInt
    val reps = sys.env.getOrElse("PROBE_REPS", "3").toInt
    val nLarge = nSmall * 4
    val memMb = sys.env.getOrElse("PROBE_MEM_MB", "3072").toInt
    // PROBE_SIZES=4 -> single-config run (e.g. data-scale headroom probes)
    val sizes = sys.env.get("PROBE_SIZES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(nSmall, nLarge))
    val results = sizes.flatMap { w =>
      val s = session(w, cores, memMb)
      run(s, in, s"$out/warm-$w-${System.nanoTime()}")
      val secs = (1 to reps).map { _ =>
        // flush dirty pages OUTSIDE the timed window: the previous run's
        // ~GBs of page-cache writeback otherwise stalls a later run at
        // random (observed +/-15s on identical runs)
        val od = s"$out/t-$w-${System.nanoTime()}"
        new ProcessBuilder("sync").inheritIO().start().waitFor()
        // prior reps' shuffle files live in (tmpfs) local dirs until the
        // ContextCleaner notices the shuffle objects are garbage — force the
        // driver GC so each rep starts with a clean shuffle footprint
        System.gc()
        Thread.sleep(2000)
        val t = run(s, in, od)
        graft.util.Dirs.deleteRecursively(new java.io.File(od)) // bound tmpfs
        println(f"PROBE3 workers=$w%2d x$cores secs=$t%7.2f thr=${rows / t}%9.0f")
        t
      }
      s.stop()
      secs.map(t => w -> (rows / t))
    }
    val byW = results.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).max }
    if (byW.contains(nSmall) && byW.contains(nLarge))
      println(f"PROBE3 efficiency=${byW(nLarge) / (4 * byW(nSmall))}%.3f")
  }
}
