package graft.xes

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import XesModel._

/** Spark XES source: the registered `xes` file source → per-file
  * StAX parse in executors → typed Datasets (SURVEY.md §2.2
  * "XesReader" row; reference `src/stream/xes.rs:562-714`).
  *
  * Scale notes:
  *  - parallelism is per *file* (XML has no splittable structure);
  *    many logs → many tasks. A single giant XML log cannot be split —
  *    that is inherent to the format, and the first thing this engine
  *    does at scale is convert to parquet (`toParquet`) so every
  *    downstream query gets columnar pruning + splittable scans;
  *  - a log handle ([[read]]) parses each file ONCE: one
  *    `components=true` scan emits the meta, trace and event rows, is
  *    cached, and `metaDs`/`traces`/`events` are column projections of
  *    that cache — the promi reference likewise parses a stream once
  *    and pulls every component through its pipes. Event-only callers
  *    use [[readEvents]] instead: a pruned scan that pins no cache;
  *  - Meta is one row per file, emitted first (xes.rs:627-648); it
  *    reaches the driver only when a meta-consuming operator collects.
  */
object XesReader {

  /** A log handle: per-file metas + distributed traces/events, all
    * projections of the handle's one cached component scan (`cached`;
    * None for handles not built by [[read]]). `metaDs` is a plan, not
    * a collection — nothing is materialized driver-side until a
    * meta-consuming operator (writer, validator, repair) actually
    * runs, and `metaFor` brings exactly one file's header. `metas`
    * collects them all — bounded by the file count a flow
    * writes/validates, never forced by event-plane queries.
    *
    * The cache is a `CacheManager` entry, so `spark.catalog.clearCache()`
    * releases it too; after [[unpersist]] the handle still works and
    * re-parses on demand. Two handles never share a cache (each
    * [[read]] builds its own relation), so a fresh read of a
    * rewritten file sees the new bytes. */
  case class XLog(metaDs: Dataset[XesMeta], traces: Dataset[XesTrace],
      events: Dataset[XesEvent], cached: Option[DataFrame] = None) {
    lazy val metas: Seq[XesMeta] = metaDs.collect().toSeq
    /** One file's header, driver-side — the millions-of-files path. */
    def metaFor(file: String): Option[XesMeta] =
      metaDs.filter(_.file == file).collect().headOption
    /** Replaces the metas with a driver-transformed set (repair). */
    def withMetas(ms: Seq[XesMeta]): XLog = {
      val s = metaDs.sparkSession
      import s.implicits._
      copy(metaDs = s.createDataset(ms))
    }
    /** Events with a timestamp column usable by the Time DSL. */
    def eventsDf: DataFrame = withTs(events)
    /** Releases the handle's component cache. */
    def unpersist(): Unit = cached.foreach(_.unpersist())
  }

  /** `events` with the Time DSL's `ts` timestamp column. */
  def withTs(events: Dataset[XesEvent]): DataFrame =
    events.withColumn("ts", timestamp_micros(col("tsMicros")))

  private def binary(spark: SparkSession, path: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
  }

  private def shortName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Events through the registered `xes` file source — Catalyst's
    * column pruning reaches the StAX loop via
    * [[XesFileFormat.keepFor]], so a 2-column query never
    * materializes unreferenced attributes. */
  def readEvents(spark: SparkSession, path: String): Dataset[XesEvent] = {
    import spark.implicits._
    spark.read.format("xes").load(path).as[XesEvent]
  }

  def readTraces(spark: SparkSession, path: String): Dataset[XesTrace] = {
    import spark.implicits._
    project[XesTrace](components(spark, path), XesFileFormat.TraceKind)
  }

  /** A log handle over `path`: one cached component scan (one
    * full-fidelity parse per file, on the first action), projected
    * into metas, traces and events. */
  def read(spark: SparkSession, path: String): XLog = {
    import spark.implicits._
    val rows = components(spark, path).cache()
    XLog(project[XesMeta](rows, XesFileFormat.MetaKind),
      project[XesTrace](rows, XesFileFormat.TraceKind),
      project[XesEvent](rows, XesFileFormat.EventKind), Some(rows))
  }

  /** The `components=true` scan: one row per meta, trace and event. */
  private def components(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xes").option("components", "true").load(path)

  /** A component scan's `kind` rows, as `T`'s columns. */
  private def project[T: Encoder](rows: DataFrame, kind: Int): Dataset[T] =
    rows.filter(col("kind") === kind)
      .select(implicitly[Encoder[T]].schema.fieldNames.toIndexedSeq.map(col): _*).as[T]

  /** Fault-tolerant directory read: files that fail to parse land in a
    * quarantine table instead of failing the job (the Spark analogue of
    * the reference's in-band error cells, SURVEY.md §7.4.2 — at bulk
    * ingestion one corrupt log must not kill a 10k-file import).
    * Returns (events from parseable files, quarantine rows
    * (file, error)). Each side is its own lazy plan.
    */
  def readEventsTolerant(spark: SparkSession, path: String)
      : (Dataset[XesEvent], Dataset[(String, String)]) = {
    import spark.implicits._
    val events = spark.read.format("xes").option("tolerant", "true")
      .load(path).as[XesEvent]
    val quarantine = binary(spark, path).flatMap { case (p, c) =>
      try { XesParser.parse(shortName(p), c); Seq.empty[(String, String)] }
      catch { case e: XesParseException => Seq((shortName(p), e.message)) }
    }
    (events, quarantine)
  }

  /** Streaming XES source (SURVEY.md §7.1.8): watches a directory for
    * new XES files through the registered `xes` file format AS the
    * file-stream source — the generic FileStreamSource drives any
    * FileFormat, so the stream path shares the batch reader's StAX
    * kernel, its column pruning, AND its loud per-file size contract
    * ([[XesFileFormat.MaxXmlBytes]]: an oversized log throws a named
    * XesParseException BEFORE allocation instead of dying opaquely
    * inside a wholetext String materialization, which was the pre-r12
    * stream path's undocumented ~1.9 GiB bound). Feeds
    * [[graft.streaming.TraceAssembly]] / [[graft.streaming.StreamingStats]]
    * after a `withWatermark` on the derived ts column. Per-file
    * batches = per-file parallelism, same kernel as the batch reader.
    */
  def readEventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[XesEvent] = {
    import spark.implicits._
    val reader = spark.readStream.format("xes")
      .schema(XesFileFormat.eventsSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.load(dir).as[XesEvent]
  }

  /** One-time conversion to the at-scale layout: events + traces
    * parquet, PARTITIONED by source file — per-log queries prune to
    * one directory, and each log's rows are co-located for the
    * (file, traceIdx) joins downstream. */
  def toParquet(spark: SparkSession, xesPath: String, outDir: String): Unit = {
    readEvents(spark, xesPath).repartition(col("file"))
      .write.mode("overwrite").partitionBy("file")
      .parquet(s"$outDir/events.parquet")
    readTraces(spark, xesPath).repartition(col("file"))
      .write.mode("overwrite").partitionBy("file")
      .parquet(s"$outDir/traces.parquet")
  }
}
