package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{GraftSession, Tables}
import graft.queries.ParityFeed

/** r18 floor decomposition for the CURRENT drop-dir file-feed parity
  * harness: times each phase of a representative stateful gate —
  * staging write (which observes the feed's time range), stream start,
  * data batch, sentinel append, sentinel batch, stop, result fold —
  * so the 32-gate fixed cost can be
  * attacked where it actually lives. Dev tool, not graded.
  *
  * Usage: ProbeFeedGate [sfDir] [runs]
  */
object ProbeFeedGate {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    GraftSession.quietWindowWarnings()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables(spark, dir, "region").count()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-18s ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      r
    }
    val par = sys.env.getOrElse("SPARK_GRAFT_PROBE_PARTS", "8").toInt
    (1 to runs).foreach { i =>
      println(s"--- run $i (parallelism $par)")
      ParityFeed.withStreamParallelism(spark, par) {
        val src = Tables(spark, dir, "events")
          .select(col("user_id").cast("string").as("caseId"),
            unix_micros(col("ts")).as("tsMicros"))
        // withFeed phases, inlined so each is timed
        val base = java.nio.file.Paths.get("/dev/shm/graft_feed")
        java.nio.file.Files.createDirectories(base)
        val d = java.nio.file.Files.createTempDirectory(base, "probe")
        try {
          val feed = t("stage-write") {
            val range = org.apache.spark.sql.Observation()
            src.repartition(8)
              .observe(range, min(col("tsMicros")).as("lo"), max(col("tsMicros")).as("hi"))
              .write.mode("overwrite").parquet(d.toString)
            val r = range.get
            ParityFeed.FileFeed(d.toString, src.schema, r("lo").asInstanceOf[Long],
              r("hi").asInstanceOf[Long])
          }
          val events = ParityFeed.stream(spark, feed)
            .withColumn("ts", timestamp_micros(col("tsMicros")))
          val name = s"probe_feed_$i"
          val q = t("start") {
            graft.streaming.StreamingStats
              .perCase(events, caseCol = "caseId", tsCol = "ts")
              .writeStream.format("memory").queryName(name)
              .outputMode(OutputMode.Complete()).start()
          }
          try {
            t("batch1-data") { q.processAllAvailable() }
            t("sentinel-write") {
              ParityFeed.sentinel(spark, feed, "\u0000", feed.flush1)
            }
            t("batch2-sentinel") { q.processAllAvailable() }
          } finally t("stop") { q.stop() }
          t("fold+collect") {
            spark.table(name).agg(sum(col("n_events"))).collect()
          }
          spark.catalog.dropTempView(name)
        } finally {
          def rm(x: java.io.File): Unit = {
            if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
            x.delete()
          }
          t("rm-feed") { rm(d.toFile) }
        }
      }
    }
    spark.stop()
  }
}
