package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query-name filter (local
    // iteration only; the driver always passes two args).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.get(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(absentInput(e).fold(s"[verify] $name failed: ${e.getMessage}")(
          path => s"[verify] $name absent: $path"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // normalized physical-plan digests for the expensive queries —
    // tools/check.py diffs them against the reviewed pins so a plan
    // regression fails the gate, not just the bench. Digest against a
    // CLEAN cache: operators that legitimately leave a cache behind
    // (TraceCluster's variant inventory) would otherwise substitute
    // InMemoryRelation fragments into later plans, making the digest
    // depend on which queries ran earlier in the session — the pin
    // must hash the plan the code produces, not the session history.
    // Cleared before EVERY digest: merely CREATING an earlier pinned
    // query's DF re-registers its cache() entries (registration is
    // lazy-eval-independent), which would leak into later digests.
    val digests = graft.tools.PlanPin.Pinned
      .filter(n => only.forall(_.contains(n)))
      .map { n =>
        spark.sharedState.cacheManager.clearCache()
        val p = SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.executedPlan.toString
        // debugging aid for digest drift: dump the exact digest input
        if (sys.env.get("SPARK_GRAFT_DUMP_PLANS").contains("1"))
          Files.writeString(Paths.get(s"$outDir/plan_$n.txt"),
            graft.tools.PlanPin.normalize(p))
        s"${q(n)}: ${q(graft.tools.PlanPin.digest(p))}"
      }
    Files.writeString(Paths.get(s"$outDir/plan_digests.json"),
      digests.mkString("{", ",", "}"))
    spark.stop()
  }

  /** The input a query failed on because it does not exist: Spark's
    * PATH_NOT_FOUND anywhere in the cause chain. */
  private def absentInput(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition == "PATH_NOT_FOUND" =>
        t.getMessageParameters.get("path")
    }
}
