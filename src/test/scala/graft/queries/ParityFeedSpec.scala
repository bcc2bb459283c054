package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The tmpfs drop-dir file feed (r13 parity harness): the staged
  * slices must land in ONE first micro-batch (the old MemoryStream
  * pre-add semantics — the watermark only advances at the batch
  * boundary, so no data event is ever late), each appended sentinel
  * slice must arrive as its own later batch, the batch-side `replay`
  * must return exactly the staged multiset (the retained-source
  * contract pass 2 relies on), and the feed dir must be gone after
  * the bracket. */
class ParityFeedSpec extends SparkSpec {

  import spark.implicits._

  private def srcDf(n: Int) =
    (1 to n).map(i => (i.toLong, s"v$i", i * 1000000L))
      .toDF("id", "label", "tsMicros")

  test("staged slices land in one micro-batch; sentinels batch separately") {
    ParityFeed.withStreamParallelism(spark, 4) {
      ParityFeed.withFeed(spark, srcDf(500), slices = 4) { (feed, maxTs) =>
        assert(maxTs == 500L * 1000000L)
        val batches =
          scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
        val q = ParityFeed.stream(spark, feed).writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            batches.synchronized {
              batches += df.agg(count(lit(1)), coalesce(max(col("tsMicros")),
                lit(0L))).as[(Long, Long)].collect().toSeq
            }; ()
          }.start()
        try {
          q.processAllAvailable()
          ParityFeed.sentinel(spark, feed, -1L, "_s", maxTs + 86400000000L)
          q.processAllAvailable()
          ParityFeed.sentinelRows(spark, feed, Seq(
            Seq(-2L, "_s", maxTs + 2L * 86400000000L),
            Seq(-3L, "_s", maxTs + 2L * 86400000000L)))
          q.processAllAvailable()
        } finally q.stop()
        val nonEmpty = batches.toSeq.flatten.filter(_._1 > 0L)
        // batch 1: all 500 staged rows; batch 2: the one-row sentinel;
        // batch 3: the two-row sentinel slice
        assert(nonEmpty == Seq((500L, maxTs),
          (1L, maxTs + 86400000000L), (2L, maxTs + 2L * 86400000000L)))
        // replay = the staged multiset (sentinels excluded by ts)
        val replayed = ParityFeed.replay(spark, feed)
          .where(col("tsMicros") <= maxTs)
        assert(replayed.count() == 500L)
        assert(replayed.agg(sum(col("id"))).head().getLong(0)
          == (1L to 500L).sum)
        feed.dir
      }
    }
  }

  test("withSharedFeed: one staging per key, maxTs frozen at staging, sentinels absorbed") {
    val k = s"spec:${System.identityHashCode(this)}"
    val (dir1, max1) = ParityFeed.withSharedFeed(spark, k, srcDf(50)) {
      (feed, maxTs) => (feed.dir, maxTs)
    }
    assert(max1 == 50L * 1000000L)
    // a later gate on the same key: SAME staged dir, NO restaging —
    // the df argument must not even be evaluated
    val (dir2, max2) = ParityFeed.withSharedFeed(spark, k,
      sys.error("must not restage"): org.apache.spark.sql.DataFrame) {
      (feed, maxTs) => (feed.dir, maxTs)
    }
    assert(dir2 == dir1 && max2 == max1)
    // sentinel slices appended by an earlier gate must NOT move a
    // later gate's maxTs (computed at staging time), and replay's
    // ts filter must exclude them — the absorption contract the
    // robust-stats + sketch gates rely on
    ParityFeed.sentinel(spark, feed = ParityFeed.FileFeed(dir1,
      srcDf(1).schema, 1000000L, max1), -9L, "_s", max1 + 86400000000L)
    val (_, max3) = ParityFeed.withSharedFeed(spark, k,
      sys.error("must not restage"): org.apache.spark.sql.DataFrame) {
      (feed, maxTs) =>
        val replayed = ParityFeed.replay(spark, feed)
          .where(col("tsMicros") <= maxTs)
        assert(replayed.count() == 50L)
        (feed.dir, maxTs)
    }
    assert(max3 == max1)
    // distinct key: distinct staging
    val dirB = ParityFeed.withSharedFeed(spark, k + ":b", srcDf(5)) {
      (feed, _) => feed.dir
    }
    assert(dirB != dir1)
  }

  test("withSharedFeed deletes its own sentinel slices and nothing else") {
    val k = s"spec-own:${System.identityHashCode(this)}"
    val (dir, maxTs) = ParityFeed.withSharedFeed(spark, k, srcDf(20)) {
      (feed, maxTs) => (feed.dir, maxTs)
    }
    def names = new java.io.File(dir).list().toSet
    val staged = names
    val foreign = java.nio.file.Paths.get(dir, "foreign-slice.bin")
    ParityFeed.withSharedFeed(spark, k,
      sys.error("must not restage"): org.apache.spark.sql.DataFrame) {
      (feed, _) =>
        ParityFeed.sentinel(spark, feed, -1L, "_s", maxTs + 86400000000L)
        java.nio.file.Files.write(foreign, Array[Byte](1, 2, 3))
        assert(names.exists(_.startsWith("sentinel-")))
    }
    try assert(names == staged + foreign.getFileName.toString,
      "the block must delete its own slice (and side file), only those")
    finally java.nio.file.Files.deleteIfExists(foreign)
  }

  test("a concurrent lister reads a complete footer from every visible slice") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    ParityFeed.withFeed(spark, srcDf(10), slices = 1) { (feed, maxTs) =>
      val conf = spark.sparkContext.hadoopConfiguration
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listing = new java.util.concurrent.CountDownLatch(1)
      // the file source's view of the dir: every name not hidden by a
      // leading '.' or '_'
      val lister = new Thread(() => while (!done.get()) {
        new java.io.File(feed.dir).listFiles()
          .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .foreach { f =>
            try {
              val r = ParquetFileReader.open(HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.getPath), conf))
              try r.getFooter finally r.close()
              reads.incrementAndGet()
            } catch {
              case e: Exception => errors.add(s"${f.getName}: $e")
            }
          }
        listing.countDown()
      })
      lister.start()
      listing.await() // the appends below race a running lister
      try (1 to 200).foreach(i =>
        ParityFeed.sentinel(spark, feed, -i.toLong, "_s", maxTs + i))
      finally { done.set(true); lister.join() }
      assert(errors.isEmpty, errors.asScala.take(3).mkString("; "))
      assert(reads.get() > 1)
    }
  }

  test("withFeed cleans up its drop-dir; withFeedDoubled stages the doubled multiset") {
    val dir = ParityFeed.withFeed(spark, srcDf(10)) { (feed, _) => feed.dir }
    assert(!new java.io.File(dir).exists(), s"feed dir $dir survived the bracket")
    ParityFeed.withFeedDoubled(spark, srcDf(10)) { (feed, maxTs) =>
      assert(maxTs == 10L * 1000000L)
      val rows = ParityFeed.replay(spark, feed)
      assert(rows.count() == 20L)
      // every id appears exactly twice — union(df, df), not 2x rounding
      assert(rows.groupBy("id").count().where(col("count") =!= 2L).count() == 0L)
    }
  }

  test("multiBatch: whole-history, doubled-feed and two-pass gates stream " +
    "in several micro-batches and equal their batch references") {
    import graft.tools.StreamScaleBench
    val sf = "/root/testdata/sf0.01"
    val listener = new StreamScaleBench.GateListener
    spark.streams.addListener(listener)
    try ParityFeed.multiBatch(slices = 8, perTrigger = 2) {
      // funnel and upsert: the shared events feed under a whole-history
      // gap (a (user, type) key goes quiet for a whole 7.5-day trigger,
      // so a gap shorter than the span splits its latest row); dedup:
      // the doubled feed; winsorized: pass 2 replays the slices
      for (g <- Seq("q_stream_funnel_parity", "q_stream_upsert_parity",
          "q_stream_dedup_parity", "q_stream_winsorized_parity")) {
        val got = graft.SparkEntry.queries(g)(spark, sf)
        val st = listener.take(g)
        assert(st.dataBatches >= 3L, s"$g: $st")
        assert(st.lateDrops == 0L, s"$g: $st")
        assert(StreamScaleBench.fingerprint(got) == StreamScaleBench.fingerprint(
          StreamScaleBench.batchReference(spark, g, sf)), g)
      }
    } finally spark.streams.removeListener(listener)
  }
}
