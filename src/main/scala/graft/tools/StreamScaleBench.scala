package graft.tools

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry, Tables}
import graft.queries.{EventLogQueries, ParityFeed, XesQueries}
import graft.streaming.{StreamingDeclare, StreamingNearDup}

/** Streaming scale audit: the oracle-checked parity gates, run as
  * multi-micro-batch streams over ScaleBench's ×copies inflation.
  *
  * Each `q_stream_*_parity` query that reads the sf dir runs through
  * `SparkEntry.queries` on the inflated dir, inside a
  * [[ParityFeed.multiBatch]] scope: its feed is staged as [[Slices]]
  * time-range slices with ascending mtimes and streamed [[PerTrigger]]
  * slices per micro-batch, so the watermark advances between batches
  * and the state gaps, timers and evictions run as they would on a
  * real ingestion tail. The gate code is the one the oracle checks;
  * nothing here re-wires an operator.
  *
  * Each gate's output is compared, by an order-free [[fingerprint]],
  * with a batch reference on the same dir:
  *  - `twin:<query>`: the batch query whose oracle SQL is the gate's
  *    ([[Twins]], derived from `SparkEntry.oracleSql`);
  *  - `local`: for a gate without a twin, a batch computation in the
  *    gate's output shape ([[LocalRefs]]; `StreamScaleLocalRefSpec`
  *    checks each against the oracle-verified gate at sf0.01);
  *  - `row`: three rows no sf-dir gate covers run the book-corpus gate
  *    definitions over scaled input — `dfg` and `conformance` over the
  *    inflated events, `xes` over the book corpus ×copies.
  *
  * Micro-batches, peak state rows and rows dropped at the watermark
  * come from a listener keyed by the gate's sink-name prefix.
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_SCALE_DIR
  * and SPARK_GRAFT_SCALE_COPIES (ScaleBench's inflation, reused when
  * its stamp matches), SPARK_GRAFT_CPUS, SPARK_GRAFT_STREAM_OUT
  * (default `bench_stream_scale_x<copies>_c<cpus>.json`).
  * `--only=a,b` runs the named rows (gate or row names) and writes
  * `<out>.partial` unless the out path is set; `--rebuild` re-inflates.
  */
object StreamScaleBench {

  /** Time-range slices per staged feed and slices per trigger: 12 data
    * micro-batches per gate. */
  val Slices = 48
  val PerTrigger = 4

  private def isGate(n: String): Boolean =
    n.startsWith("q_stream_") && n.endsWith("_parity")

  /** The gates that read the sf dir: every gate but the book-corpus
    * ones. */
  val Gates: Seq[String] =
    (SparkEntry.queries.keySet -- XesQueries.queries.keySet).filter(isGate)
      .toSeq.sorted

  /** Gate → batch twin: the non-gate query whose oracle body is
    * identical to the gate's. */
  val Twins: Map[String, String] = {
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    Gates.flatMap { g =>
      oracle.collectFirst { case (`g`, body) => body }.flatMap(body =>
        oracle.collectFirst { case (q, b) if b == body && !isGate(q) => g -> q })
    }.toMap
  }

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("user_id"), col("event_type"),
      col("event_id"), unix_micros(col("ts")).as("us"))

  /** A purchase and the views by the same user in the hour before it,
    * the two join gates' condition. */
  private def viewsBeforePurchase(s: SparkSession, dir: String,
      how: String): DataFrame = {
    val ev = events(s, dir)
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("us").as("b_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("us").as("v_us"))
    buys.join(views, col("v_user") === col("b_user") &&
        col("v_us") >= col("b_us") - 3600000000L && col("v_us") <= col("b_us"), how)
      .groupBy(col("b_id").as("purchase_id"))
      .agg(count(col("v_id")).as("n_views"), min(col("v_id")).as("first_view_id"))
  }

  /** Batch references in the gate's output shape, for the gates
    * without a twin. */
  val LocalRefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_declare_parity" -> { (s, dir) =>
      import s.implicits._
      val cons = EventLogQueries.DeclareMonitorSet
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("us"))
        .as[(Long, String, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          // TraceAssembly's closed-trace order: (tsMicros, activity)
          val acts = it.toSeq.sortBy(e => (e._3, e._2)).map(_._2)
          cons.map { c =>
            val (app, sat) = StreamingDeclare.evaluate(c, acts)
            (c.template, c.actA, c.actB, if (app) 1L else 0L, if (sat) 1L else 0L)
          }
        }.toDF("template", "act_a", "act_b", "app", "sat")
        .groupBy("template", "act_a", "act_b")
        .agg(count(lit(1)).as("n_cases"), sum("app").as("n_applicable"),
          sum("sat").as("n_satisfied"))
    },
    // the dedup gate's doubled feed must reduce to the single copy
    "q_stream_dedup_parity" -> { (s, dir) =>
      Tables(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
    "q_stream_drift_parity" -> { (s, dir) =>
      val ev = events(s, dir).select(col("event_type").as("a"), col("us"))
      val g = ev.groupBy(col("a")).agg(count(lit(1)).as("g_a"))
      val gtot = g.agg(sum(col("g_a"))).head().getLong(0)
      val w = ev.groupBy(expr("(us div 86400000000) * 86400000000").as("ws"),
          col("a"))
        .agg(count(lit(1)).as("n_pa"))
      val wt = w.groupBy(col("ws")).agg(sum(col("n_pa")).as("n_p"))
      wt.crossJoin(g).join(w, Seq("ws", "a"), "left")
        .groupBy(col("ws"), col("n_p"))
        .agg(sum(abs(coalesce(col("n_pa"), lit(0L)) * gtot -
          col("g_a") * col("n_p"))).as("l1x2"))
        .select(col("ws").as("window_start_us"), col("n_p").as("n_events"),
          (col("l1x2").cast("double") /
            (col("n_p").cast("double") * lit(gtot.toDouble))).as("l1x2_vs_baseline"))
    },
    "q_stream_join_parity" -> ((s, dir) => viewsBeforePurchase(s, dir, "inner")),
    "q_stream_outer_join_parity" ->
      ((s, dir) => viewsBeforePurchase(s, dir, "left")),
    // first holder of a (band, bucket) = min (ts, doc id); every other
    // hit collides against it
    "q_stream_neardup_parity" -> { (s, dir) =>
      import s.implicits._
      val hits = StreamingNearDup.bucketHits(s,
        Tables(s, dir, "documents")
          .select(col("doc_id").cast("long").as("docId"), col("text"),
            ((col("doc_id").cast("long") + 1L) * 1000000L).as("tsMicros"))
          .as[StreamingNearDup.Doc],
        k = 3, numHashes = 32, bands = 8, seed = 42L).toDF()
      val firsts = hits.groupBy(col("band"), col("bucket"))
        .agg(min(struct(col("tsMicros"), col("docId"))).as("f"))
        .select(col("band"), col("bucket"), col("f.docId").as("first_doc_id"))
      hits.join(firsts, Seq("band", "bucket"))
        .filter(col("docId") =!= col("first_doc_id"))
        .select(col("docId").as("doc_id"), col("first_doc_id"), col("band"),
          col("bucket"))
    },
    // session_window merges on overlap of [ts, ts + gap): a gap of
    // exactly 12 h starts a new session
    "q_stream_sessionize_parity" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      events(s, dir)
        .withColumn("_new", (lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) >= 43200L * 1000000L).cast("long"))
        .withColumn("_sid", sum(col("_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("_sid"))
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("t_start_us"),
          max(col("us")).as("t_end_us"))
        .drop("_sid")
    }
  )

  /** The batch reference of gate `g` on `dir`: its twin, else its
    * local reference. */
  def batchReference(s: SparkSession, g: String, dir: String): DataFrame =
    Twins.get(g).fold(LocalRefs(g)(s, dir))(t => SparkEntry.queries(t)(s, dir))

  /** Order-free fingerprint of a result: row count plus two xors of
    * `xxhash64` over each row (different seeds). Columns are taken in
    * name order, integral values as longs and fractional values
    * rounded to 9 places, as `tools/check.py` compares them. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          col(f.name).cast(LongType)
        case FloatType | DoubleType | _: DecimalType =>
          round(col(f.name).cast(DoubleType), 9)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h1"), xxhash64(lit(7L) +: cols: _*).as("h2"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h1")), lit(0L)),
        coalesce(bit_xor(col("h2")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  final case class StreamStats(batches: Long, dataBatches: Long,
      peakStateRows: Long, lateDrops: Long)

  /** A micro-batch reading more rows than this is a data batch: the
    * largest sentinel slice (the outer-join gate's) holds 2. */
  private val SentinelRowsMax = 2L

  /** Collects the progress of every streaming query; [[take]] reads
    * off the queries of one gate by its sink-name prefix. */
  private[graft] final class GateListener extends StreamingQueryListener {
    import StreamingQueryListener._
    private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val running = ConcurrentHashMap.newKeySet[UUID]()
    // the started event reaches session listeners synchronously
    override def onQueryStarted(e: QueryStartedEvent): Unit = running.add(e.runId)
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      running.remove(e.runId)

    /** Waits (≤ 60 s) for the termination events of all started
      * queries — a query's progress events precede it on the bus — then
      * folds and drops the progress of the sinks named `prefix_*`. */
    def take(prefix: String): StreamStats = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!running.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      val mine = progress.asScala.toSeq
        .filter(p => Option(p.name).exists(_.startsWith(prefix + "_")))
      mine.foreach(progress.remove)
      val ops = mine.flatMap(_.stateOperators.toSeq)
      StreamStats(mine.count(_.numInputRows > 0),
        mine.count(_.numInputRows > SentinelRowsMax),
        if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  /** The inflated events as a `(caseId, activity, tsMicros)` trace
    * source. */
  private def traceSource(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(col("user_id").cast("string").as("caseId"),
      col("event_type").as("activity"), unix_micros(col("ts")).as("tsMicros"))

  /** A row runs its stream and hands back the result with its batch
    * reference, built on demand. */
  private type Row = () => (DataFrame, () => DataFrame)

  /** Rows no sf-dir gate covers. The sink-name prefix is the row
    * name. */
  private def rows(s: SparkSession, dir: String, copies: Int): Map[String, Row] = Map(
    "dfg" -> { () =>
      val src = traceSource(s, dir)
      val w = Window.partitionBy(col("caseId")).orderBy(col("tsMicros"), col("activity"))
      (XesQueries.dfgGate(s, "dfg", src), () =>
        src.withColumn("_next", lead(col("activity"), 1).over(w))
          .filter(col("_next").isNotNull)
          .groupBy(col("activity").as("act_from"), col("_next").as("act_to"))
          .agg(count(lit(1)).as("n")))
    },
    "conformance" -> { () =>
      import s.implicits._
      val src = traceSource(s, dir)
      val net = graft.ops.Alpha.mine(
        src.withColumn("ts", timestamp_micros(col("tsMicros"))),
        "caseId", "activity", "tsMicros", "activity")
      val bNet = s.sparkContext.broadcast(graft.ops.Replay.compile(net))
      (XesQueries.conformanceGate(s, "conformance", src, net), () =>
        src.as[(String, String, Long)].groupByKey(_._1).mapGroups { (c, it) =>
          val acts = it.toSeq.sortBy(e => (e._3, e._2)).map(_._2)
          val vf = graft.ops.Replay.replayVariant(bNet.value, acts)
          (c, acts.length.toLong, vf.fitness, vf.missing, vf.remaining)
        }.toDF("case_id", "n_events", "fitness", "missing", "remaining"))
    },
    // the book corpus ×copies under distinct names (so (file, trace)
    // keys never collide), oldest copy first; the reference reads the
    // same copies, then deletes them
    "xes" -> { () =>
      val drop = Files.createTempDirectory("graft_xes_audit")
      val srcs = Option(new java.io.File(graft.Fixtures.book).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".xes")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - 60000L - copies * srcs.length * 10L
      for (c <- 0 until copies; (f, i) <- srcs.zipWithIndex) {
        val dst = drop.resolve(f"c$c%03d_${f.getName}")
        Files.copy(f.toPath, dst)
        dst.toFile.setLastModified(t0 + (c * srcs.length + i) * 10L)
      }
      def rm(): Unit = {
        Option(drop.toFile.listFiles()).foreach(_.foreach(_.delete()))
        Files.delete(drop)
      }
      val got = try XesQueries.xesSourceGate(s, "xes", drop.toString)
        catch { case e: Throwable => rm(); throw e }
      (got, () => try {
        val ref = XesQueries.xesTraceDigest(
          graft.xes.XesReader.readEvents(s, s"$drop/*.xes").toDF())
        s.createDataFrame(java.util.Arrays.asList(ref.collect(): _*), ref.schema)
      } finally rm())
    }
  )

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val copies = ScaleBench.Copies
    val only = args.find(_.startsWith("--only="))
      .map(_.stripPrefix("--only=").split(',').toSeq)
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT",
      s"bench_stream_scale_x${copies}_c$cpus.json" + (if (only.isDefined) ".partial" else ""))
    val spark = GraftSession.get(cpus)
    GraftSession.quietWindowWarnings()

    val missing = Gates.filterNot(g => Twins.contains(g) || LocalRefs.contains(g))
    require(missing.isEmpty, s"gates without a batch reference: ${missing.mkString(",")}")
    val extra = rows(spark, scaled, copies)
    val known = Gates ++ extra.keys.toSeq.sorted
    only.foreach { o =>
      val bad = o.filterNot(known.contains)
      require(bad.isEmpty, s"unknown --only names: ${bad.mkString(",")}; " +
        s"valid: ${known.mkString(",")}")
    }
    val selected = only.getOrElse(known)

    ScaleBench.ensureInflated(spark, base, scaled, args.contains("--rebuild"))
    // LateDrops folds the retained progress; keep it above any batch
    // count a row produces
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "4096")
    val listener = new GateListener
    spark.streams.addListener(listener)
    // a fixed CPU probe before every row lands in the artifact with the
    // 1-min load average, so a contended window is visible next to the
    // row it inflated
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val calibBase = (1 to 3).map(_ => Calib.probe(spark)).min
    val calibParBase = (1 to 3).map(_ => Calib.probePar(spark)).min
    val calib = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]

    def secs[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val results = ParityFeed.multiBatch(Slices, PerTrigger) {
      selected.map { name =>
        calib += ((name, Calib.probe(spark), osBean.getSystemLoadAverage,
          Calib.probePar(spark)))
        val label =
          if (extra.contains(name)) "row"
          else Twins.get(name).fold("local")(t => s"twin:$t")
        val row: Row = extra.getOrElse(name, () => (SparkEntry.queries(name)(spark, scaled),
          () => batchReference(spark, name, scaled)))
        val ((got, reference), runS) = secs(row())
        val (fpGot, fpS) = secs(fingerprint(got))
        val streamS = runS + fpS
        val st = listener.take(name)
        val (fpRef, refS) = secs(fingerprint(reference()))
        val ok = fpGot == fpRef && st.lateDrops == 0L
        println(f"$name%-44s stream=$streamS%7.1fs ref=$refS%6.1fs " +
          s"batches=${st.batches} data=${st.dataBatches} peakState=${st.peakStateRows} " +
          s"drops=${st.lateDrops} rows=${fpGot._1} match=$ok ($label)")
        s""""$name":{"reference":"$label","stream_s":$streamS,"ref_s":$refS,""" +
          s""""batches":${st.batches},"data_batches":${st.dataBatches},""" +
          s""""peak_state_rows":${st.peakStateRows},"late_drops":${st.lateDrops},""" +
          s""""rows":${fpGot._1},"match":$ok}"""
      }
    }
    calib += (("end", Calib.probe(spark), osBean.getSystemLoadAverage,
      Calib.probePar(spark)))
    val contended = Calib.contended(calib.map(_._2).toSeq, calibBase) ||
      Calib.contended(calib.map(_._4).toSeq, calibParBase)
    val calibJson = calib.map { case (op, s, l, p) => f"""["$op",$s%.3f,$l%.2f,$p%.3f]""" }
      .mkString(s"""{"baseline":${f"$calibBase%.3f"},"par_baseline":${f"$calibParBase%.3f"},"contended":$contended,"probes":[""", ",", "]}")
    val line = s"""{"metric":"stream_scale","copies":$copies,"files":$Slices,"fpt":$PerTrigger,"cpus":$cpus,"base":"$base","calib":$calibJson,"ops":${results.mkString("{", ",", "}")}}"""
    println(line)
    Files.writeString(Paths.get(out), line + "\n")
    spark.stop()
  }
}
