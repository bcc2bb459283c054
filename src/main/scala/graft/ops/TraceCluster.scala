package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Dedup

/** Trace clustering: group a log's variants into families of similar
  * behavior — the standard reduction step before per-cluster discovery
  * when a log is too heterogeneous for one model. Similarity is
  * character-level edit distance over the canonical variant string
  * (the classifier identity, component.rs:76-81); clusters are the
  * connected components of the ≤`maxDist` pair graph, labeled by the
  * smallest representative case id.
  *
  * Scale shape: variants (not cases!) are the clustering universe —
  * the variant inventory is orders of magnitude smaller than the log —
  * and candidate generation is segment-pigeonhole (PassJoin-style)
  * blocking, an EQUI-join whose output tracks the number of TRUE
  * near-duplicate pairs. Plain length-band blocking degenerates to
  * all-pairs within a length class (measured here: 101 s at sf0.1,
  * quadratic death at a million variants); the pigeonhole join does
  * not. Components reuse [[Dedup.clusters]] (bounded driver
  * union-find below 2²² edges, distributed large-star/small-star
  * contraction above).
  *
  * Small inventories skip all of that: when the frame's [[Variants]]
  * table holds at most [[Variants.SampleN]] (1001) variants it is
  * already on the driver, and the edit pairs, components and labels
  * come from a driver-side sweep and union-find, with no Spark job.
  */
object TraceCluster {

  /** Character bins for the histogram counting filter: disjoint ASCII
    * groups; characters outside every bin don't count, which only
    * weakens the (still sound) L1/2 lower bound. Counts come from
    * `length(s) − length(translate(s, bin, ''))` — pure codegen.
    * Digits get 2-char bins of their own: serial-ID universes differ
    * ONLY in digits, and a single digit bin would make every digit
    * substitution invisible to the filter (finer disjoint bins are
    * strictly stronger and equally sound — measured on the ×100
    * serial-supplier probe, they cut verify volume ~3×).
    */
  private val HistBinChars: Seq[String] = Seq(
    "abcd", "efgh", "ijkl", "mnop", "qrst", "uvwx", "yz",
    "01", "23", "45", "67", "89", ">_- ")
  private val HistBins = HistBinChars.length

  /** Candidate pairs within edit distance `maxDist`:
    * `(vid_a, vid_b, dist)` over a variant inventory shaped like
    * [[Sessionize.variantRepresentatives]] (`variant`, `rep_case`,
    * `n_cases`). `vid_a &lt; vid_b` in the output.
    *
    * Blocking is the segment-pigeonhole scheme: split every string
    * into `d+1` contiguous disjoint segments (even partition, short
    * segments first). An edit script of ≤ d operations edits
    * characters of at most d segments, so SOME segment of the shorter
    * string survives untouched — and its image in the longer string
    * is an EXACT substring displaced by at most d positions (each
    * insertion/deletion shifts it by one). Candidates are therefore
    * the equi-join of
    *
    *  - index side: `(i, segment i of s, |s|)` — k rows per string;
    *  - probe side: `(i, substring of t with the length-l scheme's
    *    segment length, starting within ±d of the scheme position,
    *    l)` for every partner length `l ∈ [|t|−d, |t|], l > d`.
    *
    * Probe fan-out is O(d²·(d+1)) short keys per string — constant in
    * the inventory size — and the index side broadcasts. Strings of
    * length ≤ d carry no nonempty-segment guarantee and go through a
    * single short-string bucket instead (truly bounded: at most
    * |Σ|^d distinct such strings exist). `levenshtein` runs once per
    * deduplicated candidate pair.
    *
    * CANDIDATE-VOLUME CONTRACT: the equi-join's output is
    * Σ_seg |index(seg)|·|probe(seg)| — selectivity comes from the
    * segments' CONTENT ENTROPY. On natural strings (trace variants,
    * names, text) hub segments are rare and candidates track true
    * near-pairs (q_trace_clusters ×100 ratio 1.16). On
    * constant-prefix key universes ("Supplier#000…" serial IDs) a
    * shared-prefix segment would be held by EVERY string and
    * candidates would degenerate to ~n² (measured r9: 100 k such
    * names did not finish in 45 min). The kernel therefore
    * SELF-DEFENDS: [[stripCommonAffixes]] removes the inventory-wide
    * constant prefix and suffix in one agg pass before segmenting, so
    * blocking runs on the variable region only. Unit-cost Levenshtein
    * is invariant under common-affix removal (the standard trim
    * lemma: some optimal alignment matches a shared prefix/suffix
    * identically), so the output pair set and distances are EXACTLY
    * those of the unstripped strings. When contamination disables the
    * global strip (one string without the majority affix ⇒ lcp = 0),
    * the kernel falls back to [[dominantAffix]] + [[groupedPairs]]:
    * strip within the dominant group only, with cross-group pairs
    * recovered by blocking-independent filters — still exact, still
    * entropy-bounded.
    */
  def editPairs(variants: DataFrame, maxDist: Int): DataFrame = {
    // The family probes run AFTER any global strip, on its residue: a
    // successful global strip can remove a shared head and still
    // leave multiple low-entropy families behind ("OR1-…" + "OR2-…"
    // share "OR"; stripping it leaves two serial families), so strip
    // success must not end the defense chain. The strip agg and the
    // probe sample ride ONE eager action ([[probeInventory]], the r11
    // judge fold) — the natural path costs exactly one
    // plan-construction job.
    probeInventory(variants) match {
      case None => pairsOf(variants, maxDist) // empty inventory
      case Some((stripped, sample)) =>
        dominantAffixes(sample) match {
          case affixes if affixes.size >= 2 =>
            multiGroupedPairs(stripped, affixes, maxDist)
          case _ =>
            dominantAffix(sample) match {
              case Some((affix, isSuffix)) =>
                groupedPairs(stripped, affix, isSuffix, maxDist)
              case None => pairsOf(stripped, maxDist)
            }
        }
    }
  }

  /** The defense chain's ONE eager job: the global-strip agg
    * (min/max/reverse-min/max/minlen) and the [[Variants.SampleN]]-row
    * deterministic probe sample ride a single `collect()` as a
    * two-branch union, replacing the r11 pair of jobs. The strip is
    * applied to the sample DRIVER-side — the strip is the same
    * bijective per-string trim the returned plan applies (every string
    * carries the affix, so trimming is injective), hence probing
    * stripped sample strings equals sampling the stripped inventory,
    * up to the hash-order key being the raw instead of the stripped
    * string — a heuristic-only difference: any partition the probes
    * pick is sound ([[groupedPairs]]). Returns the post-strip plan and
    * sample, or None on an empty inventory; [[MinSampleN]] floors the
    * family probes themselves. */
  private def probeInventory(variants: DataFrame): Option[(DataFrame, Array[String])] = {
    val vcol = col("variant")
    val nullS = lit(null).cast("string")
    val aggBranch = variants.agg(
        min(vcol).as("_s1"), max(vcol).as("_s2"),
        min(reverse(vcol)).as("_s3"), max(reverse(vcol)).as("_s4"),
        min(length(vcol)).as("_ml"))
      .select(lit(0).as("_kind"), col("_s1"), col("_s2"), col("_s3"),
        col("_s4"), col("_ml"), nullS.as("_v"))
    val sampleBranch = variants
      .orderBy(xxhash64(vcol), vcol).limit(Variants.SampleN)
      .select(lit(1).as("_kind"), nullS.as("_s1"), nullS.as("_s2"),
        nullS.as("_s3"), nullS.as("_s4"),
        lit(null).cast("int").as("_ml"), vcol.as("_v"))
    // 1 agg row + ≤ SampleN sample rows — bounded collect, one action
    val rows = aggBranch.unionByName(sampleBranch).collect()
    val agg = rows.find(_.getInt(0) == 0).get
    if (agg.isNullAt(1)) return None // empty inventory
    val pre = lcpLen(agg.getString(1), agg.getString(2))
    val suf = math.max(0, math.min(
      lcpLen(agg.getString(3), agg.getString(4)), agg.getInt(5) - pre))
    val rawSample = rows.filter(_.getInt(0) == 1).map(_.getString(6))
    if (pre == 0 && suf == 0) Some((variants, rawSample))
    else Some((
      variants.withColumn("variant",
        vcol.substr(lit(pre + 1), length(vcol) - (pre + suf))),
      rawSample.map(stripStr(_, pre, suf))))
  }

  /** Driver-side twin of the plan-level affix trim, in code points
    * (matching [[lcpLen]] and Spark's code-point `substr`). */
  private def stripStr(s: String, pre: Int, suf: Int): String = {
    val total = s.codePointCount(0, s.length)
    s.substring(s.offsetByCodePoints(0, pre),
      s.offsetByCodePoints(0, total - suf))
  }

  /** The deterministic probe sample: hash-ordered (xxhash64 as the
    * order key = uniform, reproducible) TakeOrdered of the inventory.
    * Retained as the spec-facing entry point for the DataFrame probe
    * overloads; the production path samples inside [[probeInventory]]'s
    * single action instead. */
  private def sampleVariants(variants: DataFrame): Array[String] =
    variants.select(col("variant"))
      .orderBy(xxhash64(col("variant")), col("variant"))
      .limit(Variants.SampleN).collect().map(_.getString(0))

  /** The blocking+verify pipeline on an (already-stripped) inventory —
    * exactly the pre-r11 `editPairs` body. */
  private def pairsOf(stripped: DataFrame, maxDist: Int): DataFrame = {
    val v = withHists(stripped)
    verifyPairs(v, rawCandidates(stripped, maxDist).distinct(), maxDist)
  }

  /** Remove the longest prefix and suffix shared by EVERY string in
    * the inventory — the low-entropy-key self-defense. One map-side
    * combinable agg: the set-wide common prefix equals
    * `lcp(min(s), max(s))` (any string between min and max in
    * code-point order starts with their shared prefix), and the
    * set-wide common suffix equals the common prefix of the reversed
    * strings, clamped so prefix+suffix never exceed the shortest
    * string. Distance-preserving for unit-cost Levenshtein, so
    * callers' results are unchanged; candidate volume drops from ~n²
    * to entropy-proportional on serial-ID universes ("ORD-000…",
    * "Supplier#000…").
    *
    * EAGERNESS: the agg runs a Spark job at plan-CONSTRUCTION time,
    * and the returned plan re-evaluates the input lineage — callers
    * whose input is expensive should cache it first
    * ([[clusterVariants]] does; q_entity_match's input is one
    * projected dimension-table scan, where the second pass is
    * cheaper than managing a cache entry).
    *
    * CONTAMINATION (the r10 limit, now defended): the strip is
    * inventory-GLOBAL, so a single contaminant without the majority
    * affix sets lcp = 0 and disables it. [[editPairs]] then falls back
    * to [[groupedPairs]]: strip within the DOMINANT-affix group only
    * and route cross-group pairs through the blocking-independent
    * length + histogram filters — sound because stripping different
    * amounts per string is only ever applied to pairs wholly inside
    * one group (where the trim lemma holds), never across groups.
    * MULTIPLE serial families (e.g. "ORD-…" + "SUP-…" at 50/50, where
    * no single affix dominates) take [[multiGroupedPairs]]: per-family
    * strip + bipartite cross-family blocking after a uniform
    * mutual-lcp strip — measured 8–9 s on the ×100 two-family
    * universe. Last-resort degradation (no family structure at all)
    * is graceful, not quadratic: the per-digit-bin histogram filter
    * prunes cross-serial candidates in codegen regardless of
    * stripping (the r10 ×100 serial run measured 34 s with bins alone
    * vs 10 s with the strip vs killed-at-45-min with neither).
    */
  private[graft] def stripCommonAffixes(variants: DataFrame): DataFrame = {
    val row = variants.agg(
      min(col("variant")), max(col("variant")),
      min(reverse(col("variant"))), max(reverse(col("variant"))),
      min(length(col("variant")))).head()
    if (row.isNullAt(0)) return variants // empty inventory
    val pre = lcpLen(row.getString(0), row.getString(1))
    val suf = math.min(lcpLen(row.getString(2), row.getString(3)),
      row.getInt(4) - pre)
    if (pre == 0 && suf <= 0) variants
    else variants.withColumn("variant", col("variant")
      .substr(lit(pre + 1), length(col("variant")) - (pre + math.max(suf, 0))))
  }

  /** Longest common prefix of two strings, in code points. */
  private def lcpLen(a: String, b: String): Int = {
    val ai = a.codePoints().toArray; val bi = b.codePoints().toArray
    var i = 0; val n = math.min(ai.length, bi.length)
    while (i < n && ai(i) == bi(i)) i += 1
    i
  }

  /** Guards for the dominant-affix fallback probe. */
  private val MinAffixLen = 4
  private val MinSampleN = 50
  private val MaxFamilies = 5

  /** Probe for an affix shared by the DOMINANT (~≥90%) slice of the
    * inventory when no GLOBAL affix exists — the contaminated-serial
    * defense. A deterministic hash-ordered sample (xxhash64 as the
    * order key = uniform sample, reproducible across runs) is sorted
    * by value; all strings between the 5% and 95% sample quantiles in
    * code-point order share `lcp(q05, q95)`, so that lcp estimates
    * the affix carried by the middle ~90% of the population. Returns
    * `(affix, isSuffix)` — prefix probed first, then suffix on the
    * reversed sample. ONLY a grouping heuristic: any partition of the
    * inventory is sound under [[groupedPairs]], so a mis-estimate
    * costs performance, never pairs. `None` on high-entropy
    * inventories (natural strings: q05/q95 share no 4-char affix) and
    * tiny ones (< 50 sampled — the plain path is already cheap).
    * EAGERNESS: the production path reuses [[probeInventory]]'s
    * sample (no extra job); the DataFrame overload (spec entry point)
    * runs its own TakeOrdered.
    */
  private[graft] def dominantAffix(variants: DataFrame): Option[(String, Boolean)] =
    dominantAffix(sampleVariants(variants))

  private def dominantAffix(sample: Array[String]): Option[(String, Boolean)] = {
    if (sample.length < MinSampleN) return None
    val minAffix = minFamAffix(sample)
    def probe(ss: Array[String]): Option[String] = {
      val sorted = ss.sorted
      val lo = sorted((sorted.length * 0.05).toInt)
      val hi = sorted(math.min(sorted.length - 1, (sorted.length * 0.95).toInt))
      val n = lcpLen(lo, hi)
      // the same low-entropy-KEY discriminator as the family probe: a
      // short shared first token on long natural strings must NOT
      // reroute the inventory off its (digest-pinned) plain plan
      if (n < minAffix) None
      else Some(lo.substring(0, lo.offsetByCodePoints(0, n)))
    }
    probe(sample).map((_, false))
      .orElse(probe(sample.map(_.reverse)).map(p => (p.reverse, true)))
  }

  /** The minimum affix length worth grouping on: a serial family's
    * key spans a large fraction of the string (it swallows whole
    * pigeonhole segments of len/(d+1) each and creates hub keys); a
    * natural shared first token is short relative to the string and
    * is NOT a degeneracy. max(4, medianLen/3). */
  private def minFamAffix(sample: Array[String]): Int = {
    val lens = sample.map(_.length).sorted
    math.max(MinAffixLen, (lens(lens.length / 2) + 2) / 3)
  }

  /** Edit pairs on a contaminated inventory: partition into the
    * dominant-affix group G and the residue R, run the full
    * strip+blocking pipeline WITHIN each side (the trim lemma holds
    * within G because every member shares the group affix; R is
    * blocked unstripped), and generate G×R cross candidates by a
    * broadcast nested-loop over the (guarded-small) residue with the
    * sound length-band + histogram-L1/2 necessary conditions, verified
    * by levenshtein on the ORIGINAL strings. G-pairs ∪ R-pairs ∪
    * cross-pairs is exactly all pairs (G, R partition the inventory),
    * each path exact ⇒ the union is exact.
    *
    * Residue guard: the nested loop costs |G|·|R| codegen predicate
    * evaluations, so if R exceeds max(2048, n/8) — the probe badly
    * mis-estimated dominance — fall back to the plain bins-only
    * pipeline (r10's measured-graceful 34 s path) instead.
    */
  private def groupedPairs(variants: DataFrame, affix: String,
      isSuffix: Boolean, maxDist: Int): DataFrame = {
    val member =
      if (isSuffix) col("variant").endsWith(lit(affix))
      else col("variant").startsWith(lit(affix))
    val cnt = variants.agg(
      count(lit(1)), sum(when(member, 0L).otherwise(1L))).head()
    val total = cnt.getLong(0)
    val resid = if (cnt.isNullAt(1)) 0L else cnt.getLong(1)
    if (resid == 0) return pairsOf(stripCommonAffixes(variants), maxDist)
    if (resid > math.max(2048L, total / 8)) return pairsOf(variants, maxDist)
    val g = variants.filter(member)
    val r = variants.filter(!member)
    pairsOf(stripCommonAffixes(g), maxDist)
      .unionByName(pairsOf(r, maxDist))
      .unionByName(filteredCrossPairs(g, r, maxDist))
  }

  /** All pairs (a ∈ big, b ∈ small) within `maxDist`, by a broadcast
    * nested-loop over the SMALL side with the sound length-band +
    * histogram-L1/2 necessary conditions in codegen and levenshtein on
    * the ORIGINAL strings — the blocking-independent cross-partition
    * path. Caller guards |small|. */
  private def filteredCrossPairs(big: DataFrame, small: DataFrame,
      maxDist: Int): DataFrame = {
    val histL1 = (0 until HistBins)
      .map(b => abs(col(s"_h${b}x") - col(s"_h${b}y"))).reduce(_ + _)
    val gx = withHists(big).select(
      (Seq(col("vid").as("vid_x"), col("variant").as("_vx"),
        col("_len").as("_lx")) ++
        (0 until HistBins).map(b => col(s"_h$b").as(s"_h${b}x"))): _*)
    val rx = withHists(small).select(
      (Seq(col("vid").as("vid_y"), col("variant").as("_vy"),
        col("_len").as("_ly")) ++
        (0 until HistBins).map(b => col(s"_h$b").as(s"_h${b}y"))): _*)
    gx.join(broadcast(rx),
        abs(col("_lx") - col("_ly")) <= maxDist && histL1 <= 2 * maxDist)
      .withColumn("dist", levenshtein(col("_vx"), col("_vy"), maxDist))
      .filter(col("dist") >= 0)
      .select(least(col("vid_x"), col("vid_y")).as("vid_a"),
        greatest(col("vid_x"), col("vid_y")).as("vid_b"), col("dist"))
  }

  /** Up to [[MaxFamilies]] dominant PREFIX families from the same
    * deterministic sample as [[dominantAffix]] — the multi-family
    * contaminated case (e.g. two serial universes "ORD-…" + "SUP-…"
    * merged 50/50, where no single affix dominates and the r10 global
    * strip AND the single-group fallback are both blind). Sample
    * strings are bucketed by their first [[MinAffixLen]] chars;
    * buckets holding ≥ ~8% of the sample become families, each with
    * its full internal lcp as the family affix. Families are
    * prefix-incompatible by construction (distinct 4-char keys), so
    * `startsWith` membership is unambiguous. Returns Nil unless ≥ 2
    * families cover ≥ 75% of the sample — below that the residue
    * guard in [[multiGroupedPairs]] would bail anyway. Heuristic
    * only: any partition is sound (see [[multiGroupedPairs]]).
    */
  private[graft] def dominantAffixes(variants: DataFrame): Seq[String] =
    dominantAffixes(sampleVariants(variants))

  private def dominantAffixes(sample: Array[String]): Seq[String] = {
    if (sample.length < MinSampleN) return Nil
    val eligible = sample.filter(_.length >= MinAffixLen)
    if (eligible.isEmpty) return Nil
    // Low-entropy-KEY discriminator: a serial family's affix spans a
    // large fraction of the string ("ORD-0000…" ≈ 0.6·len), so it
    // swallows whole pigeonhole segments (len/(d+1) each) and creates
    // hub keys; a natural shared first token ("view>") is short
    // relative to the string and is NOT a degeneracy — blocking on it
    // keeps entropy. Requiring affix ≥ max(4, medianLen/3) keeps
    // natural variant inventories (q_trace_clusters) on the plain
    // single-self-join plan (digest-pinned) and engages the family
    // machinery only on key-shaped universes.
    val minAffix = minFamAffix(sample)
    val minSize = sample.length / 12
    // Hierarchical bucket refinement: families sharing a short head
    // ("ORD-A…" + "ORD-B…" both bucket under "ORD-") would be invisible
    // at a fixed 4-char key — when a big bucket's internal lcp is too
    // short to be a family affix, re-bucket its members at double the
    // key length until either a family emerges or the sub-buckets drop
    // below the size floor (guaranteed termination).
    def families(ss: Array[String], keyLen: Int): Seq[String] =
      if (keyLen > 64) Nil
      else ss.filter(_.length >= keyLen).groupBy(_.substring(0, keyLen))
        .values.toSeq.flatMap { g =>
          if (g.length < minSize) Nil
          else {
            val n = lcpLen(g.min, g.max)
            if (n >= minAffix)
              Seq(g.min.substring(0, g.min.offsetByCodePoints(0, n)))
            else families(g, keyLen * 2)
          }
        }
    val fams = families(eligible, MinAffixLen)
      .sortBy(a => (-eligible.count(_.startsWith(a)), a))
      .take(MaxFamilies)
    val covered = eligible.count(s => fams.exists(s.startsWith))
    if (fams.size >= 2 && covered * 4 >= sample.length * 3) fams else Nil
  }

  /** Edit pairs on a MULTI-family inventory: each family Gi is
    * stripped by its OWN affixes and blocked internally (trim lemma
    * within a family); cross-family pairs (Gi, Gj) go through
    * BIPARTITE pigeonhole blocking after uniformly stripping
    * `lcp(Ai, Aj)` from both sides — every member of Gi ∪ Gj starts
    * with that mutual prefix (each family affix extends it), so the
    * trim lemma applies to the pair-union and distances are exact.
    * The bipartite join is entropy-bounded precisely because the
    * mutual strip removes the shared low-entropy head: what remains
    * differs at the first character between families, so one family's
    * hub segments only meet the OTHER family's variable-region
    * substrings. The residue (no family) is blocked internally and
    * crossed against everything else via [[filteredCrossPairs]],
    * under the same max(2048, n/8) guard as [[groupedPairs]].
    * Gi-pairs ∪ Gj-pairs ∪ cross(i,j) ∪ R-paths partition the pair
    * space, each path exact ⇒ the union is exact.
    */
  private def multiGroupedPairs(variants: DataFrame, affixes: Seq[String],
      maxDist: Int): DataFrame = {
    val grpOf: Column = affixes.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (a, i)) =>
        when(col("variant").startsWith(lit(a)), lit(i)).otherwise(acc)
    }
    val tagged = variants.withColumn("_grp", grpOf)
    val cnts = tagged.groupBy(col("_grp")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = cnts.values.sum
    val resid = cnts.getOrElse(-1, 0L)
    if (resid > math.max(2048L, total / 8)) return pairsOf(variants, maxDist)
    val groups = affixes.indices
      .map(i => i -> tagged.filter(col("_grp") === i).drop("_grp"))
      .filter { case (i, _) => cnts.getOrElse(i, 0L) > 0L }
    val r = tagged.filter(col("_grp") === -1).drop("_grp")
    val within = groups.map { case (_, g) =>
      pairsOf(stripCommonAffixes(g), maxDist)
    }
    val cross = for {
      ((i, gi), ii) <- groups.zipWithIndex
      (j, gj) <- groups.drop(ii + 1)
    } yield {
      val m = lcpLen(affixes(i), affixes(j))
      def stripM(df: DataFrame): DataFrame =
        if (m == 0) df
        else df.withColumn("variant",
          col("variant").substr(lit(m + 1), length(col("variant")) - m))
      val (gi2, gj2) = (stripM(gi), stripM(gj))
      val cands = rawCandidatesFrom(gi2, gj2, maxDist)
        .unionByName(rawCandidatesFrom(gj2, gi2, maxDist))
      verifyPairs(withHists(gi2.unionByName(gj2)), cands.distinct(), maxDist)
    }
    val residue =
      if (cnts.getOrElse(-1, 0L) == 0L) Seq.empty[DataFrame]
      else Seq(pairsOf(r, maxDist),
        filteredCrossPairs(tagged.filter(col("_grp") =!= -1).drop("_grp"),
          r, maxDist))
    // total even on the sample/data divergence edge (eager sample saw
    // families, full-data counts all came back 0 with no residue):
    // fall back to the plain pipeline instead of reducing an empty seq
    (within ++ cross ++ residue).reduceOption(_ unionByName _)
      .getOrElse(pairsOf(variants, maxDist))
  }

  private def withHists(variants: DataFrame): DataFrame =
    variants.select(
      (Seq(col("variant"), col("rep_case").cast("long").as("vid"),
        length(col("variant")).as("_len")) ++
        HistBinChars.zipWithIndex.map { case (bin, b) =>
          (length(col("variant")) -
            length(translate(col("variant"), bin, ""))).cast("int").as(s"_h$b")
        }): _*)

  private def rawCandidates(variants: DataFrame, maxDist: Int): DataFrame =
    rawCandidatesFrom(variants, variants, maxDist)

  /** Pigeonhole candidates with distinct index/probe sides — the
    * bipartite form [[multiGroupedPairs]] uses for CROSS-family pairs.
    * Covers exactly the pairs (a ∈ indexVars, b ∈ probeVars) where a
    * is the no-longer string (the `_lp ≤ _ly` orientation, vid-ordered
    * at equal length); callers wanting ALL cross pairs union both
    * directions — equal-length pairs appear in exactly one direction
    * thanks to the vid tiebreak, so the union never double-counts.
    * The self-join case (`indexVars eq probeVars`) is the pre-r11
    * `rawCandidates` body unchanged. */
  private def rawCandidatesFrom(indexVars: DataFrame, probeVars: DataFrame,
      maxDist: Int): DataFrame = {
    val d = maxDist
    val k = d + 1
    val v = withHists(indexVars)
    val vP = if (probeVars eq indexVars) v else withHists(probeVars)

    // Even-partition arithmetic for a string of length `l` and
    // segment index `i` (both Columns): the last (l mod k) segments
    // are one char longer than base.
    def base(l: Column): Column = floor(l / k).cast("int")
    def shortCount(l: Column): Column = lit(k) - pmod(l, lit(k))
    def segLen(l: Column, i: Column): Column =
      base(l) + when(i >= shortCount(l), 1).otherwise(0)
    def segPos(l: Column, i: Column): Column = // 0-based start
      i * base(l) + greatest(lit(0), i - shortCount(l))

    // ---- long-string path (length > d) ----
    val long = v.filter(col("_len") > d)

    val index = long.select(
      (Seq(col("vid").as("vid_x"), col("_len").as("_lx"),
        explode(array((0 until k).map { i =>
          struct(lit(i).as("segIdx"),
            col("variant").substr(one(segPos(col("_len"), lit(i))),
              segLen(col("_len"), lit(i))).as("seg"))
        }: _*)).as("s")) ++
        (0 until HistBins).map(b => col(s"_h$b").as(s"_h${b}x"))): _*)
      .select((Seq(col("vid_x"), col("_lx").as("_lp"),
        col("s.segIdx").as("segIdx"), col("s.seg").as("seg")) ++
        (0 until HistBins).map(b => col(s"_h${b}x"))): _*)

    // Probe rows via chained generators — every scalar computation
    // stays in whole-stage codegen (no interpreted array-of-struct
    // HOFs). The start window uses the first-intact-segment bound: if
    // segment i is the FIRST intact one, each earlier segment absorbed
    // >= 1 edit, so at most d-i edits follow it and the net-indel
    // shift after it obeys |delta - shift| <= d-i; clamped to the
    // generic +/-d displacement and to string bounds.
    val longP = vP.filter(col("_len") > d)
    val m = col("_len")
    val probe = longP
      .select((Seq(col("vid").as("vid_y"), m.as("_ly"), col("variant"),
        explode(sequence(greatest(m - d, lit(d + 1)).cast("int"),
          m.cast("int"))).as("_lp")) ++
        (0 until HistBins).map(b => col(s"_h$b"))): _*)
      .select((Seq(col("vid_y"), col("_ly"), col("variant"), col("_lp"),
        explode(array((0 until k).map(i => lit(i)): _*)).as("segIdx")) ++
        (0 until HistBins).map(b => col(s"_h$b").as(s"_h${b}y"))): _*)
      .withColumn("_sl", segLen(col("_lp"), col("segIdx")))
      .withColumn("_p", segPos(col("_lp"), col("segIdx")))
      .withColumn("_delta", col("_ly") - col("_lp"))
      .withColumn("_lo", greatest(
        col("_p") + col("_delta") - (lit(d) - col("segIdx")),
        col("_p") - d, lit(0)))
      .withColumn("_hi", least(
        col("_p") + col("_delta") + (lit(d) - col("segIdx")),
        col("_p") + d, col("_ly") - col("_sl")))
      .filter(col("_hi") >= col("_lo"))
      .select((Seq(col("vid_y"), col("_ly"), col("_lp"), col("segIdx"),
        col("variant"), col("_sl"),
        explode(sequence(col("_lo"), col("_hi"))).as("_st")) ++
        (0 until HistBins).map(b => col(s"_h${b}y"))): _*)
      .select((Seq(col("vid_y"), col("_ly"), col("_lp"), col("segIdx"),
        col("variant").substr(one(col("_st")), col("_sl")).as("seg")) ++
        (0 until HistBins).map(b => col(s"_h${b}y"))): _*)

    // The join output pays for hub segments (low-entropy alphabets
    // repeat segment strings across many variants), so a second SOUND
    // filter prunes it in codegen before the distinct: one edit moves
    // the character histogram's L1 norm by at most 2, hence
    // edit >= L1/2 (bins that drop characters only weaken the bound).
    val histL1 = (0 until HistBins)
      .map(b => abs(col(s"_h${b}x") - col(s"_h${b}y"))).reduce(_ + _)
    val longCands = probe
      .join(broadcast(index), Seq("_lp", "segIdx", "seg"))
      // orientation: index side is the no-longer string; equal lengths
      // dedup by vid order (also removes self-pairs).
      .filter((col("_lp") < col("_ly") ||
        (col("_lp") === col("_ly") && col("vid_x") < col("vid_y"))) &&
        histL1 <= 2 * d)
      .select(col("vid_x").as("vid_a"), col("vid_y").as("vid_b"))

    // ---- short-string path (length ≤ d) ----
    // Broadcast nested-loop against the short side — legitimate here
    // and only here: at most |Σ|^d strings of length ≤ d exist, so the
    // build side is alphabet-bounded regardless of corpus size.
    val short = v.filter(col("_len") <= d)
      .select(col("vid").as("vid_x"), col("_len").as("_lx"))
    val partners = vP.filter(col("_len") <= 2 * d)
      .select(col("vid").as("vid_y"), col("_len").as("_ly"))
    val shortCands = partners.crossJoin(broadcast(short))
      .filter(col("_ly") - col("_lx") <= d &&
        (col("_lx") < col("_ly") ||
          (col("_lx") === col("_ly") && col("vid_x") < col("vid_y"))))
      .select(col("vid_x").as("vid_a"), col("vid_y").as("vid_b"))

    longCands.unionByName(shortCands)
  }

  /** Pre-distinct candidate stream (exposed for stage profiling);
    * affix-stripped like the production path. */
  private[graft] def debugCandidates(variants: DataFrame,
      maxDist: Int): DataFrame =
    rawCandidates(stripCommonAffixes(variants), maxDist)

  /** Levenshtein verification uses the THRESHOLD form (r18, guide
    * §1.2 per-task work): `levenshtein(a, b, d)` runs the banded DP —
    * O(min(|a|,|b|)·(2d+1)) cells with early exit instead of the full
    * O(|a|·|b|) table — returning the exact distance when ≤ d and -1
    * otherwise, so the kept pair set and every emitted `dist` value
    * are byte-identical to the unbounded form filtered at ≤ d. On
    * variant strings of hundreds of characters at d = 5 the band is a
    * ~25× per-pair cell-count cut. */
  private def verifyPairs(v: DataFrame, candidates: DataFrame,
      maxDist: Int): DataFrame = {
    val sa = v.select(col("vid").as("vid_a"), col("variant").as("_va"))
    val sb = v.select(col("vid").as("vid_b"), col("variant").as("_vb"))
    candidates.join(sa, "vid_a").join(sb, "vid_b")
      .withColumn("dist", levenshtein(col("_va"), col("_vb"), maxDist))
      .filter(col("dist") >= 0)
      .select(least(col("vid_a"), col("vid_b")).as("vid_a"),
        greatest(col("vid_a"), col("vid_b")).as("vid_b"), col("dist"))
  }

  /** 1-based position for `Column.substr`. */
  private def one(zeroBased: Column): Column = zeroBased + 1

  /** All pairs within `maxDist` of a whole inventory held on the
    * driver: `(vid_a, vid_b, dist)` with `vid_a < vid_b`, exactly
    * [[editPairs]]' rows. A sweep over the length-sorted strings
    * visits only partners within ±`maxDist` code points of length;
    * the code-point histogram filter (one edit moves the multiset L1
    * by at most 2) drops pairs with L1 > 2·`maxDist`; survivors run
    * the same banded `levenshteinDistance(other, maxDist)` Spark's
    * three-argument `levenshtein` calls. Raw strings are compared:
    * Levenshtein is invariant under the common-affix strip. */
  private[graft] def driverPairs(inventory: Seq[(String, Long)],
      maxDist: Int): Array[(Long, Long, Int)] = {
    final class V(val s: UTF8String, val vid: Long, val cps: Array[Int])
    val vs = inventory.map { case (str, vid) =>
      val cps = str.codePoints().toArray
      java.util.Arrays.sort(cps)
      new V(UTF8String.fromString(str), vid, cps)
    }.sortBy(_.cps.length).toArray
    // |x| + |y| − 2·|x ∩ y| over sorted code-point multisets
    def histL1(x: Array[Int], y: Array[Int]): Int = {
      var (i, j, common) = (0, 0, 0)
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { common += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1
        else j += 1
      }
      x.length + y.length - 2 * common
    }
    val out = Array.newBuilder[(Long, Long, Int)]
    for (i <- vs.indices) {
      val a = vs(i)
      var j = i + 1
      while (j < vs.length && vs(j).cps.length - a.cps.length <= maxDist) {
        val b = vs(j)
        if (histL1(a.cps, b.cps) <= 2 * maxDist) {
          val dist = a.s.levenshteinDistance(b.s, maxDist)
          if (dist >= 0)
            out += ((math.min(a.vid, b.vid), math.max(a.vid, b.vid), dist))
        }
        j += 1
      }
    }
    out.result()
  }

  /** Full pipeline: `(variant, vid, cluster_id, n_cases)` — singleton
    * variants keep their own id as `cluster_id`.
    *
    * Scale shape: the universe is the string view of the frame's
    * [[Variants]] table (variants that differ only in null activities
    * or in where `>` falls are one variant here). When that table is
    * on the driver and case ids are integral, the tail runs there —
    * [[driverPairs]], then [[Dedup.minRootLabels]] (the union-find of
    * [[Dedup.clusters]]' driver path) — and the labeled rows come back
    * as a local frame: no edit-pair plan, no checkpoint, and no job at
    * all when the caller collects. Larger tables, and string case ids,
    * run the distributed [[editPairs]] pipeline over the cached table
    * and [[Dedup.clusters]]. Both paths label each component by its
    * smallest vid.
    */
  def clusterVariants(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String,
      maxDist: Int): DataFrame =
    clusterTable(Variants.of(events, caseCol, activityCol, tsCol, tieBreak), maxDist)

  private[ops] def clusterTable(t: Variants.Table, maxDist: Int): DataFrame =
    Variants.localStrings(t) match {
      case Some(inventory) =>
        val spark = t.frame.sparkSession
        import spark.implicits._
        val label = Dedup.minRootLabels(
          driverPairs(inventory.map(r => (r._1, r._2)), maxDist)
            .map { case (a, b, _) => (a, b) }).toMap
        inventory.map { case (variant, vid, nCases) =>
          (variant, vid, label.getOrElse(vid, vid), nCases)
        }.toDF("variant", "vid", "cluster_id", "n_cases")
      case None =>
        // the inventory feeds many plan branches (index, probe, short
        // bucket, verify join-back, final labeling): cache it so its
        // aggregate over the table runs once, not per branch
        val reps = Variants.strings(t.frame).cache()
        val comp = Dedup.clusters(editPairs(reps, maxDist), "vid_a", "vid_b")
          .select(col("doc_id").as("_vid"), col("cluster_id"))
        reps
          .withColumn("vid", col("rep_case").cast("long"))
          .join(broadcast(comp), col("vid") === col("_vid"), "left")
          .select(col("variant"), col("vid"),
            coalesce(col("cluster_id"), col("vid")).as("cluster_id"),
            col("n_cases"))
    }
}
