package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.streaming.OutputMode

import graft.GraftSession
import graft.xes.XesReader

/** Measures the per-micro-batch fixed cost of the streaming XES
  * source (FileStreamSource driving the registered `xes` FileFormat)
  * by running the book corpus through a memory sink at varying
  * `maxFilesPerTrigger`, against the batch reader as the floor.
  *
  * Finding (round 12, quiet box): ~0.3 s of pure FileStreamSource
  * machinery per micro-batch — fpt=3 (5 batches) ≈ 2.4 s, fpt=5 (3
  * batches) ≈ 1.9 s, fpt=7 (2 batches) ≈ 1.3 s, single batch ≈ 1.2 s,
  * batch read 0.6 s. This sized `q_stream_xes_parity`'s fpt=5 choice:
  * still genuinely multi-batch (3 triggers), while the deep
  * multi-batch coverage (33–325 triggers) lives in StreamScaleBench's
  * xes row.
  *
  * Env: SPARK_GRAFT_XES_BOOK (corpus dir, defaults to the reference
  * checkout's book corpus).
  */
object ProbeXesStream {

  private def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toVector
    } finally st.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("32")
    GraftSession.quietWindowWarnings()
    val book = sys.env.getOrElse("SPARK_GRAFT_XES_BOOK", graft.Fixtures.book)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    var n = 0

    def once(fpt: Option[Int]): Unit = {
      val drop = Files.createTempDirectory("xes_probe")
      try {
        listDir(Paths.get(book)).filter(_.toString.endsWith(".xes"))
          .foreach(p => Files.copy(p, drop.resolve(p.getFileName),
            StandardCopyOption.REPLACE_EXISTING))
        val t0 = System.nanoTime()
        val events = XesReader.readEventsStream(spark, drop.toString, fpt)
        n += 1
        val name = s"xes_probe_$n"
        val q = events.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
        val c = spark.table(name).count()
        spark.catalog.dropTempView(name)
        println(f"fpt=$fpt%-8s rows=$c ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } finally { listDir(drop).foreach(Files.delete); Files.delete(drop) }
    }

    Seq(Some(3), Some(3), Some(3), Some(5), Some(5), Some(7), Some(7),
      None, None).foreach(once)
    val t0 = System.nanoTime()
    val c = XesReader.read(spark, s"$book/*.xes").events.count()
    println(f"batch rows=$c ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
