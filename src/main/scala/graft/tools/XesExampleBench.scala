package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.xes.{XesReader, XesWriter}

/** Replica of the reference's only external comparison harness
  * (`/root/reference/examples/main.py:12-18`): read
  * `bigger-example.xes`, write it back out, print both timings — the
  * pm4py round-trip the reference benchmarks itself against. Our
  * engine's equivalents are the distributed XES parse
  * (`XesReader.read`) and the executor-side renderer
  * (`XesWriter.toXmlStrings`); the written bytes land at the same
  * /tmp/out.xes the example uses.
  *
  * Run: `sbt "runMain graft.tools.XesExampleBench"` — prints
  * `read in X.XXXs, wrote in Y.YYYs` in the example's own format,
  * plus trace/event counts for eyeballing. (For context: pm4py's
  * import of this 9-trace file is millisecond-scale too; the
  * interesting comparison is the book corpus via `Bench`'s
  * q_xes_* rows, where the StAX kernel parses MBs per second per
  * core.)
  */
object XesExampleBench {
  def main(args: Array[String]): Unit = {
    val inPath = args.headOption.getOrElse(
      s"${graft.Fixtures.book}/bigger-example.xes")
    val outPath = if (args.length > 1) args(1) else "/tmp/out.xes"
    val spark = GraftSession.get("8")
    spark.range(1000L).count() // session warmup
    println(s"$inPath --> $outPath")
    // two passes: pass 1 includes JVM/codegen/planner warmup (the
    // pm4py example is single-shot CPython — no equivalent cost),
    // pass 2 is the steady-state engine number
    (1 to 2).foreach { pass =>
      val tS = System.nanoTime()
      val xlog = XesReader.read(spark, inPath)
      val nTraces = xlog.traces.count()
      val nEvents = xlog.events.count()
      val tM = System.nanoTime()
      val rendered = XesWriter.toXmlStrings(spark, xlog).collect()
      rendered.foreach { case (_, xml) =>
        Files.write(Paths.get(outPath), xml.getBytes(StandardCharsets.UTF_8))
      }
      val tE = System.nanoTime()
      println(f"[pass $pass] read in ${(tM - tS) / 1e9}%.3fs, wrote in ${(tE - tM) / 1e9}%.3fs " +
        s"($nTraces traces, $nEvents events, ${rendered.map(_._2.length).sum} chars)")
    }
    spark.stop()
  }
}
