package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.xes.XesReader

/** Discovery/conformance algorithms under the driver's hash gate,
  * pinned against TEXTBOOK closed forms — the same discipline as the
  * XES fixtures, but with oracles that are literal expectations rather
  * than dumps: L1/L2 are the worked examples of the process-mining
  * book the reference ships (`/root/reference/static/xes/book`), whose
  * alpha net, inductive trees, alignment costs, replay fitness,
  * precision, soundness, and playout language are all known in closed
  * form (derivations in the matching specs: AlphaSpec, InductiveSpec,
  * AlignmentsSpec, PrecisionSpec, SoundnessSpec, SimulateSpec,
  * BpeSpec). Nothing here is miner-output-committed-as-its-own-oracle:
  * every oracle row is hand-derivable from the textbook definitions,
  * so the gate genuinely falsifies the implementation.
  *
  * The queries read the book corpus (dir-independent, like XesQueries)
  * because the closed forms are tied to those logs.
  */
object MinerQueries {

  private val book = "/root/reference/static/xes/book"
  private val fixtures = "/root/repo/fixtures"

  private def bookEvents(s: SparkSession, name: String) =
    XesReader.withTs(XesReader.readEvents(s, s"$book/$name.xes"))

  /** Mining fans one tiny events DF into several jobs (DFG edges,
    * starts, ends, alphabet); cache it for the duration so the XES
    * parse runs once, not once per job. Driver-side results only —
    * the cache never outlives `body`. */
  private def withCached[T](ev: org.apache.spark.sql.DataFrame)(body: => T): T = {
    ev.cache()
    try body finally ev.unpersist()
  }

  /** The textbook L1 model seq(a, xor(and(b,c), e), d) — built from
    * literals (NOT mined) so model-dependent queries are pinned to the
    * book's net, not to whatever the miner returns. */
  private def l1TextbookNet: PetriNet = {
    import ProcessTree._
    PetriNet.fromTree(Sequence(Seq(
      Leaf("a"),
      Xor(Seq(And(Seq(Leaf("b"), Leaf("c"))), Leaf("e"))),
      Leaf("d"))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Alpha miner (van der Aalst) on the book's worked example: the
    // discovered WF-net is the textbook closed form — 4 places over
    // {a..e}, start a, end d. Emitted as one row per component; place
    // sets are canonicalized by sorting.
    "q_alpha_l1_net" -> { (s, _) =>
      import s.implicits._
      val ev = bookEvents(s, "L1")
      val net = withCached(ev)(
        Alpha.mine(ev, "traceIdx", "activity", "ts", "seq"))
      val rows =
        net.activities.toSeq.sorted.map(a => ("activity", a, "")) ++
        net.startActivities.toSeq.sorted.map(a => ("start", a, "")) ++
        net.endActivities.toSeq.sorted.map(a => ("end", a, "")) ++
        net.places.toSeq.map(p => ("place",
          p.inputs.toSeq.sorted.mkString(","),
          p.outputs.toSeq.sorted.mkString(",")))
      rows.toDF("kind", "part_in", "part_out")
    },

    // Inductive miner on the two logs whose trees the book gives in
    // closed form (InductiveSpec pins the same strings).
    "q_inductive_book_trees" -> { (s, _) =>
      import s.implicits._
      Seq("L1", "L2").map { log =>
        val ev = bookEvents(s, log)
        (log, withCached(ev)(
          Inductive.mine(ev, "traceIdx", "activity", "ts", "seq")).render)
      }.toDF("log", "tree")
    },

    // Full inductive miner (log splitting) on logs whose trees are
    // hand-derivable: the two book logs (same trees as IMd — the DFG
    // is lossless there), plus three constructed logs where only log
    // splitting can see the behavior — a skippable sequence step, a
    // sometimes-omitted parallel branch, a tail repetition. IMd mines
    // skip_middle to seq(a,b,c), which REJECTS the <a,c> trace; full
    // IM observes the empty sublog and emits the xor(…,tau)
    // (derivations step-by-step in InductiveLogSpec).
    "q_inductive_log_trees" -> { (s, _) =>
      import s.implicits._
      def litLog(traces: Seq[Seq[String]]): DataFrame =
        traces.zipWithIndex.flatMap { case (tr, ci) =>
          tr.zipWithIndex.map { case (a, i) => (ci.toLong, i.toLong, a) }
        }.toDF("caseId", "seq", "activity")
      val constructed = Seq(
        "skip_middle" -> Seq(
          Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("a", "c")),
        "optional_branch" -> Seq(
          Seq("a", "b", "c", "d"), Seq("a", "c", "b", "d"),
          Seq("a", "c", "d")),
        "tail_repeat" -> Seq(Seq("a", "b"), Seq("a", "b", "b")))
      val bookTrees = Seq("L1", "L2").map { log =>
        val ev = bookEvents(s, log)
        (log, withCached(ev)(
          InductiveLog.mine(ev, "traceIdx", "activity", "ts", "seq")).render)
      }
      val conTrees = constructed.map { case (name, traces) =>
        (name,
          InductiveLog.mine(litLog(traces), "caseId", "activity", "seq", "seq")
            .render)
      }
      (bookTrees ++ conTrees).toDF("log", "tree")
    },

    // IMf with log splitting: eta thins each node's weighted DFG and
    // drops an empty-trace share within eta. On a log with one rare
    // deviating trace (1 of 41 skips the parallel block), eta = 0
    // keeps fitness — xor(…,tau) absorbs the skip — while eta = 0.3
    // cleans it away (closed-form derivations in InductiveLogSpec).
    "q_inductive_imf_log" -> { (s, _) =>
      import s.implicits._
      val noisy =
        Seq.fill(20)(Seq("a", "b", "c", "d")) ++
        Seq.fill(20)(Seq("a", "c", "b", "d")) ++
        Seq(Seq("a", "d"))
      val ev = noisy.zipWithIndex.flatMap { case (tr, ci) =>
        tr.zipWithIndex.map { case (a, i) => (ci.toLong, i.toLong, a) }
      }.toDF("caseId", "seq", "activity")
      ev.cache()
      try Seq(
        ("eta_0.0",
          InductiveLog.mine(ev, "caseId", "activity", "seq", "seq").render),
        ("eta_0.3",
          InductiveLog.mineFiltered(ev, "caseId", "activity", "seq", "seq",
            eta = 0.3).render)
      ).toDF("variant", "tree")
      finally ev.unpersist()
    },

    // Perfect-fitness THEOREM of full IM as a falsifiable gate on the
    // real events table: the mined tree must accept every variant of
    // the log it was mined from (IM's construction preserves all
    // behavior; the flower fall-through accepts everything). The
    // oracle derives the variant table in SQL and asserts
    // accepted = true per variant — a wrong cut, a wrong split, or a
    // broken tree→net compilation surfaces as a rejected variant, not
    // as a silent tree difference. Scale shape: mining is the
    // level-synchronous pass set (InductiveLog scaladoc); acceptance
    // is per-VARIANT (the Replay/Alignments convention) against the
    // broadcast net.
    "q_inductive_log_fitness" -> { (s, dir) =>
      import s.implicits._
      val ev = graft.Tables(s, dir, "events")
      val tree = InductiveLog.mine(ev, "user_id", "event_type", "ts", "event_id")
      val bNet = s.sparkContext.broadcast(PetriNet.fromTree(tree))
      // r17: one partial-agg shuffle derives the per-case sequence
      // (sort_array over the (ts, event_id)-ordered struct — the same
      // ordering the window form used, at one exchange instead of
      // window + two groupBys), and the variant table is EXPLICITLY
      // repartitioned before the acceptance map: the rows are a few
      // KB, so AQE's byte-based coalescing would fold the CPU-heavy
      // accepts() stage onto one core (explicit repartition(n) is
      // exempt from coalescing; n = defaultParallelism scales with
      // the cluster, not a local constant).
      ev.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).getField("event_type").as("_seq"))
        .groupBy(col("_seq")).agg(count(lit(1)).as("_n"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Seq[String], Long)]
        .map { case (v, n) =>
          (v.mkString(","), n, bNet.value.accepts(v.toIndexedSeq)) }
        .toDF("variant", "n_cases", "accepted")
    },

    // Token replay of L1 against its own alpha net: perfect fitness is
    // a theorem (the net was mined from exactly this behavior), so the
    // oracle derives the variants from the committed XES fixture in
    // SQL and asserts fitness 1 / missing 0 / remaining 0 per variant.
    "q_replay_fitness_l1" -> { (s, _) =>
      val ev = bookEvents(s, "L1")
      withCached(ev) {
        val net = Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")
        val res = Replay.variantFitness(s, ev, "traceIdx", "activity", "ts", "seq", net)
          .toDF()
          .select(concat_ws(",", col("variant")).as("variant"),
            col("nCases").as("n_cases"), col("missing"), col("remaining"),
            col("fitness"))
        val rows = res.collect() // variant-bounded (3 rows for L1)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      }
    },

    // Optimal alignments against the textbook L1 net for the
    // hand-derivable trace set of AlignmentsSpec: three in-language
    // traces (cost 0), one missing parallel branch (1 model move), one
    // stutter (1 log move), the empty trace (cheapest run a,e,d = 3),
    // and a garbage trace (2 log moves + cheapest run).
    "q_align_costs_l1" -> { (s, _) =>
      import s.implicits._
      val net = l1TextbookNet
      val traces = Seq("a,b,c,d", "a,c,b,d", "a,e,d", "a,b,d", "a,e,e,d",
        "", "x,y")
      traces.map { t =>
        val tr = if (t.isEmpty) Vector.empty[String] else t.split(',').toVector
        val al = Alignments.align(net, tr)
        (t, al.cost, al.syncMoves, al.logMoves, al.modelMoves)
      }.toDF("trace", "cost", "sync_moves", "log_moves", "model_moves")
    },

    // Escaping-edges precision of L1 vs the textbook net AND vs its
    // alpha net: exactly 1.0 for both — hand-checkable, the log
    // exercises every enabled activity after every reachable prefix
    // (PrecisionSpec derives the flower-model contrast).
    "q_precision_l1" -> { (s, _) =>
      import s.implicits._
      val ev = bookEvents(s, "L1")
      val (textbook, alpha) = withCached(ev) {
        (Precision.precision(Precision.prefixTable(
          s, ev, "traceIdx", "activity", "ts", "seq", l1TextbookNet)),
         Precision.precision(Precision.prefixTable(
          s, ev, "traceIdx", "activity", "ts", "seq",
          PetriNet.fromWorkflowNet(
            Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")))))
      }
      Seq(("textbook", textbook), ("alpha", alpha))
        .toDF("model", "precision")
    },

    // Composed four-dimension model-quality report (ops/Quality) for
    // L1 vs its own alpha net, all four values hand-derivable:
    // fitness = 1 and precision = 1 are the L1 theorems already gated
    // (q_replay_fitness_l1, q_precision_l1); generalization =
    // 1 − (Σ_a 1/√exec(a))/5 with exec = (a:6, b:5, c:5, d:6, e:1)
    // from the book; simplicity = (|T|+|P|)/|F| = (5+6)/14 for the
    // alpha net's 6-place, 14-arc PetriNet form.
    "q_model_quality" -> { (s, _) =>
      import s.implicits._
      val ev = bookEvents(s, "L1")
      val rep = withCached(ev) {
        val net = Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")
        Quality.report(s, ev, "traceIdx", "activity", "ts", "seq", net)
      }
      Seq(("fitness", rep.fitness), ("precision", rep.precision),
        ("generalization", rep.generalization),
        ("simplicity", rep.simplicity))
        .toDF("dimension", "value")
    },

    // WF-net soundness: the mined L1 nets are classically sound
    // (textbook), and each violation class is detected on a minimal
    // hand-built counterexample net (SoundnessSpec's constructions).
    "q_soundness_reports" -> { (s, _) =>
      import s.implicits._
      def t(id: String, l: String) = PetriNet.Transition(id, Some(l))
      val ev = bookEvents(s, "L1")
      val (alphaNet, indNet) = withCached(ev) {
        (PetriNet.fromWorkflowNet(
           Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")),
         PetriNet.fromTree(
           Inductive.mine(ev, "traceIdx", "activity", "ts", "seq")))
      }
      val nets: Seq[(String, PetriNet)] = Seq(
        "l1_alpha" -> alphaNet,
        "l1_inductive" -> indNet,
        "dead_transition" -> PetriNet(
          places = Seq("i", "o", "x"),
          transitions = Seq(t("t1", "a"), t("t2", "b")),
          arcs = Seq(("i", "t1"), ("t1", "o"), ("x", "t2"), ("t2", "o")),
          initialMarking = Map("i" -> 1), finalMarking = Map("o" -> 1)),
        "improper_completion" -> PetriNet(
          places = Seq("i", "o", "x"),
          transitions = Seq(t("t1", "a")),
          arcs = Seq(("i", "t1"), ("t1", "o"), ("t1", "x")),
          initialMarking = Map("i" -> 1), finalMarking = Map("o" -> 1)),
        "deadlock" -> PetriNet(
          places = Seq("i", "o", "trap"),
          transitions = Seq(t("t1", "a"), t("t2", "b")),
          arcs = Seq(("i", "t1"), ("t1", "o"), ("i", "t2"), ("t2", "trap")),
          initialMarking = Map("i" -> 1), finalMarking = Map("o" -> 1)),
        "unbounded" -> PetriNet(
          places = Seq("i", "o"),
          transitions = Seq(t("t1", "a")),
          arcs = Seq(("i", "t1"), ("t1", "i"), ("t1", "o")),
          initialMarking = Map("i" -> 1), finalMarking = Map("o" -> 1)))
      nets.map { case (name, n) =>
        val r = n.soundness(maxStates = 500)
        (name, r.bounded, r.optionToComplete, r.properCompletion,
          r.deadTransitions.toSeq.sorted.mkString(","), r.sound)
      }.toDF("net", "bounded", "option_to_complete", "proper_completion",
        "dead_transitions", "sound")
    },

    // Seeded playout of the textbook L1 net: the distinct generated
    // variants are exactly the model's language {abcd, acbd, aed} —
    // playout can't leave the language (theorem), and 30 traces at
    // this seed cover all three branches (frozen by the oracle).
    "q_playout_l1_variants" -> { (s, _) =>
      val gen = Simulate.log(s, l1TextbookNet, nTraces = 30L, seed = 42L)
      gen.groupBy("case_id")
        .agg(concat_ws(",",
          sort_array(collect_list(struct(col("seq"), col("activity"))))
            .getField("activity")).as("variant"),
          min(col("complete").cast("int")).as("_c"))
        .filter(col("_c") === 1)
        .select("variant").distinct()
    },

    // BPE trainer on BpeSpec's hand-traced corpus: merge order follows
    // pair counts with lexicographic ties — (l,o) on the 4-4 tie, then
    // (lo,w), then (e,r) on the 1-1 tie.
    "q_bpe_toy_merges" -> { (s, _) =>
      import s.implicits._
      val docs = Seq("low low", "low lower").toDF("text")
      val m = graft.text.Bpe.trainOn(docs, "text", nMerges = 3)
      m.merges.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "left", "right")
    }
  )

  def oracle: Map[String, String] = Map(
    "q_alpha_l1_net" ->
      """SELECT * FROM (VALUES
        |  ('activity','a',''),('activity','b',''),('activity','c',''),
        |  ('activity','d',''),('activity','e',''),
        |  ('start','a',''),('end','d',''),
        |  ('place','a','b,e'),('place','a','c,e'),
        |  ('place','b,e','d'),('place','c,e','d'))
        |t(kind, part_in, part_out)""".stripMargin,
    "q_inductive_book_trees" ->
      """SELECT * FROM (VALUES
        |  ('L1','seq(a,xor(and(b,c),e),d)'),
        |  ('L2','seq(a,loop(and(b,c),seq(e,f)),d)'))
        |t(log, tree)""".stripMargin,
    "q_inductive_log_trees" ->
      """SELECT * FROM (VALUES
        |  ('L1','seq(a,xor(and(b,c),e),d)'),
        |  ('L2','seq(a,loop(and(b,c),seq(e,f)),d)'),
        |  ('skip_middle','seq(a,xor(b,tau),c)'),
        |  ('optional_branch','seq(a,and(c,xor(b,tau)),d)'),
        |  ('tail_repeat','seq(a,loop(b,tau))'))
        |t(log, tree)""".stripMargin,
    "q_inductive_imf_log" ->
      """SELECT * FROM (VALUES
        |  ('eta_0.0','seq(a,xor(and(b,c),tau),d)'),
        |  ('eta_0.3','seq(a,and(b,c),d)'))
        |t(variant, tree)""".stripMargin,
    // variant table derived in SQL; accepted = true is the IM
    // perfect-fitness theorem (see the query's comment)
    "q_inductive_log_fitness" ->
      """WITH traces AS (
        |  SELECT user_id,
        |    string_agg(event_type, ',' ORDER BY ts, event_id) AS variant
        |  FROM events GROUP BY user_id)
        |SELECT variant, count(*) AS n_cases, true AS accepted
        |FROM traces GROUP BY variant""".stripMargin,
    // variants + case counts derived from the committed fixture in
    // SQL; fitness/missing/remaining are the perfect-fit theorem
    "q_replay_fitness_l1" ->
      s"""WITH l1 AS (SELECT * FROM '$fixtures/xes_book_events.parquet'
         |  WHERE file = 'L1.xes'),
         |traces AS (SELECT traceIdx,
         |    string_agg(activity, ',' ORDER BY tsMicros, seq) AS variant
         |  FROM l1 GROUP BY traceIdx)
         |SELECT variant, count(*) AS n_cases,
         |  CAST(0 AS BIGINT) AS missing, CAST(0 AS BIGINT) AS remaining,
         |  CAST(1.0 AS DOUBLE) AS fitness
         |FROM traces GROUP BY variant""".stripMargin,
    "q_align_costs_l1" ->
      """SELECT * FROM (VALUES
        |  ('a,b,c,d', 0, 4, 0, 0),
        |  ('a,c,b,d', 0, 4, 0, 0),
        |  ('a,e,d',   0, 3, 0, 0),
        |  ('a,b,d',   1, 3, 0, 1),
        |  ('a,e,e,d', 1, 3, 1, 0),
        |  ('',        3, 0, 0, 3),
        |  ('x,y',     5, 0, 2, 3))
        |t(trace, cost, sync_moves, log_moves, model_moves)""".stripMargin,
    "q_precision_l1" ->
      """SELECT * FROM (VALUES
        |  ('textbook', CAST(1.0 AS DOUBLE)),
        |  ('alpha',    CAST(1.0 AS DOUBLE)))
        |t(model, precision)""".stripMargin,
    // closed forms, derivations in the query's scaladoc; the
    // generalization terms are summed in the engine's a..e order so
    // the single FP sum associates identically
    "q_model_quality" ->
      """SELECT * FROM (VALUES
        |  ('fitness', CAST(1.0 AS DOUBLE)),
        |  ('precision', CAST(1.0 AS DOUBLE)),
        |  ('generalization', 1.0 - (1/sqrt(6.0) + 1/sqrt(5.0)
        |    + 1/sqrt(5.0) + 1/sqrt(6.0) + 1.0) / 5),
        |  ('simplicity', CAST(11.0/14 AS DOUBLE)))
        |t(dimension, value)""".stripMargin,
    "q_soundness_reports" ->
      """SELECT * FROM (VALUES
        |  ('l1_alpha',            true,  true,  true,  '',   true),
        |  ('l1_inductive',        true,  true,  true,  '',   true),
        |  ('dead_transition',     true,  true,  true,  't2', false),
        |  ('improper_completion', true,  false, false, '',   false),
        |  ('deadlock',            true,  false, true,  '',   false),
        |  ('unbounded',           false, false, false, '',   false))
        |t(net, bounded, option_to_complete, proper_completion,
        |  dead_transitions, sound)""".stripMargin,
    "q_playout_l1_variants" ->
      """SELECT * FROM (VALUES
        |  ('a,b,c,d'), ('a,c,b,d'), ('a,e,d'))
        |t(variant)""".stripMargin,
    "q_bpe_toy_merges" ->
      """SELECT * FROM (VALUES
        |  (1, 'l', 'o'), (2, 'lo', 'w'), (3, 'e', 'r'))
        |t(rank, "left", "right")""".stripMargin
  )
}
