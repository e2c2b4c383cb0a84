package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.EventsAdapter

/** Phase decomposition of the streaming-family bench queries (guide §1.1:
  * find where the wall actually goes before touching anything). Replicates
  * the withStreamScratch harness of SparkEntry's q_stream_* entries but
  * times each phase — streaming run, compaction, serve — separately.
  * Non-contractual (like ScaleDiag); numbers feed
  * OPTIMIZATION_r06.md only.
  */
object StreamProfile {
  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.get("SPARK_GRAFT_EXTRA_REPS").flatMap(_.toIntOption).getOrElse(3)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-stream-profile")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratch() = java.nio.file.Files.createTempDirectory(base,
      s"graft-ckpt-${ProcessHandle.current().pid()}-").toString
    def rmrf(d: String) = graft.util.Dirs.deleteRecursively(new java.io.File(d))

    // staged inputs (cached across reps, like the bench's stagedCache)
    val stagedEvents = {
      val d = java.nio.file.Files.createTempDirectory(base,
        s"graft-ckpt-${ProcessHandle.current().pid()}-").toString
      EventsAdapter.sequences(spark, sfDir).repartition(8).write.mode("overwrite").parquet(d); d
    }
    val stagedMixed = {
      val d = java.nio.file.Files.createTempDirectory(base,
        s"graft-ckpt-${ProcessHandle.current().pid()}-").toString
      EventsAdapter.mixedSequences(spark, sfDir).repartition(8).write.mode("overwrite").parquet(d); d
    }
    val stagedLines = {
      val d = java.nio.file.Files.createTempDirectory(base,
        s"graft-ckpt-${ProcessHandle.current().pid()}-").toString
      EventsAdapter.events(spark, sfDir).select("source", "raw")
        .repartition(8).write.mode("overwrite").parquet(d); d
    }

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    def cycle(name: String)(run: (String, String) => Seq[(String, Double)]): Unit =
      (1 to reps).foreach { r =>
        val ckpt = scratch(); val sink = scratch()
        try {
          val phases = run(ckpt, sink)
          val total = phases.map(_._2).sum
          println(f"[sprof] $name%-22s rep=$r total=$total%.3f " +
            phases.map { case (p, t) => f"$p=$t%.3f" }.mkString(" "))
        } finally {
          org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
          rmrf(ckpt); rmrf(sink)
        }
      }

    def drainProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.awaitTermination()
      q.recentProgress.foreach { p =>
        val dur = p.durationMs
        println(s"[sprof]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${new java.util.TreeMap[String, java.lang.Long](dur)}")
      }
    }

    cycle("stream_histogram") { (ckpt, sink) =>
      val (t1, _) = time(drainProgress(graft.streaming.StreamingPipeline.histogramToSink(
        spark, stagedEvents, sink, ckpt, EventsAdapter.configs)))
      val (t2, _) = time(graft.plans.CompactionJob.compactHistogram(spark, sink))
      val (t3, _) = time(graft.streaming.StreamingPipeline.servedHistogram(spark, sink)
        .select(date_format(col("bucket_start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("sink"), col("n"))
        .localCheckpoint(eager = true).count())
      Seq("stream" -> t1, "compact" -> t2, "serve" -> t3)
    }

    cycle("stream_fieldprofile") { (ckpt, sink) =>
      val (t1, _) = time(drainProgress(graft.streaming.StreamingPipeline.fieldCellsToSink(
        spark, stagedMixed, sink, ckpt, EventsAdapter.mixedConfigs)))
      val (t2, _) = time(graft.plans.LogPipeline.profileFromCells(
        graft.streaming.StreamingPipeline.servedFieldCells(spark, sink))
        .localCheckpoint(eager = true).count())
      Seq("stream" -> t1, "serve" -> t2)
    }

    // staged double-shipment corpus for the dedup cycle (same shape as the
    // bench harness: 2 shipments x 4 files, 60 s apart in mtime so the
    // file source delivers them as two distinct micro-batches)
    val stagedDedup = {
      val d = java.nio.file.Files.createTempDirectory(base,
        s"graft-ckpt-${ProcessHandle.current().pid()}-")
      val seq = EventsAdapter.sequences(spark, sfDir).repartition(4)
      seq.write.mode("overwrite").parquet(s"$d/copy1")
      seq.write.mode("overwrite").parquet(s"$d/copy2")
      val inDir = java.nio.file.Files.createDirectory(d.resolve("in"))
      Seq("copy1", "copy2").zipWithIndex.foreach { case (c, i) =>
        new java.io.File(s"$d/$c").listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .zipWithIndex.foreach { case (part, j) =>
            val dst = inDir.resolve(s"ship-$i-$j.parquet")
            java.nio.file.Files.copy(part.toPath, dst): Unit
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L)): Unit
          }
      }
      inDir.toString
    }

    cycle("stream_dedup") { (ckpt, sink) =>
      val (t1, _) = time(drainProgress(graft.streaming.StreamingPipeline.ingestDedup(
        spark, stagedDedup, sink, ckpt, EventsAdapter.configs,
        horizon = "10 days", writers = 8, maxFilesPerTrigger = Some(4))))
      val (t2, _) = time(spark.read.parquet(sink).select(col("doc_id"))
        .localCheckpoint(eager = true).count())
      Seq("stream" -> t1, "serve" -> t2)
    }

    cycle("stream_templates") { (ckpt, sink) =>
      val (t1, _) = time(drainProgress(graft.streaming.StreamingPipeline.templateCellsToSink(
        spark, stagedLines, sink, ckpt)))
      val (t2, _) = time(graft.plans.LogTemplates.templatesFlatFromCells(
        graft.streaming.StreamingPipeline.servedTemplateCells(spark, sink))
        .localCheckpoint(eager = true).count())
      Seq("stream" -> t1, "serve" -> t2)
    }

    spark.stop()
  }
}
