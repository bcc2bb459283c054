package graft.ops

import java.io.File

import graft.{JobProbe, SparkSpec}
import graft.xes.{XesCorpus, XesReader}

/** [[Dfg.collectFootprint]] — the one-action abstraction [[Alpha]] and
  * [[Inductive]] mine from, a fold over the [[Variants]] table —
  * against the four separate queries it replaces, on every book log. */
class FootprintSpec extends SparkSpec {

  private def bookEvents(file: String) =
    XesReader.read(spark, s"${XesCorpus.book}/$file").eventsDf

  private val bookFiles: Seq[String] =
    new File(XesCorpus.book).list().filter(_.endsWith(".xes")).sorted.toSeq

  test("footprint equals Dfg.edges, the distinct activities and the start/end counts on every book log") {
    assert(bookFiles.size >= 13, bookFiles)
    bookFiles.foreach { f =>
      val ev = bookEvents(f)
      val fp = Dfg.collectFootprint(ev, "traceIdx", "activity", "ts", "seq")
      val edges = Dfg.edges(ev, "traceIdx", "activity", "ts", "seq").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val acts = ev.select("activity").distinct().collect().map(_.getString(0)).toSet
      def profile(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val starts = profile(Dfg.startActivities(ev, "traceIdx", "activity", "ts", "seq"))
      val ends = profile(Dfg.endActivities(ev, "traceIdx", "activity", "ts", "seq"))
      assert(edges.nonEmpty && starts.nonEmpty && ends.nonEmpty, f)
      assert(fp.edges == edges, f)
      assert(fp.activities.keySet == acts, f)
      assert(fp.starts == starts, f)
      assert(fp.ends == ends, f)
      assert(fp.activities.values.sum == ev.count(), f)
    }
  }

  test("Alpha.mine and Inductive.mine each run one action") {
    val ev = bookEvents("L1.xes").cache()
    ev.count()
    // each from a cold variant table: a cached one serves the second
    // miner with no action at all (VariantsGuardSpec)
    def cold() = Variants.frame(ev, "traceIdx", "activity", "ts", "seq").unpersist()
    cold()
    val alpha = JobProbe(spark)(Alpha.mine(ev, "traceIdx", "activity", "ts", "seq"))
    cold()
    val ind = JobProbe(spark)(Inductive.mine(ev, "traceIdx", "activity", "ts", "seq"))
    cold()
    ev.unpersist()
    // one action = the window exchange, the table's aggregate exchange
    // and the result stage; the four-collect forms ran four actions
    // (≥ 8 jobs)
    assert(alpha.actions == 1 && alpha.jobs <= 3, alpha)
    assert(ind.actions == 1 && ind.jobs <= 3, ind)
  }
}
