package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** Edit-distance trace clustering against hand-computed variants,
  * including a pair that straddles a length-band boundary (the
  * soundness case for the blocking scheme).
  */
class TraceClusterSpec extends SparkSpec {

  import spark.implicits._

  /** Brute-force Levenshtein (unit costs) — the oracle every test in
    * this suite compares the blocking kernel against. */
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  // case 1: a b c  ("a>b>c", len 5)
  // case 2: a b    ("a>b",   len 3)
  // case 3: x y z q ("x>y>z>q", len 7)
  // case 4: a b c  (same variant as case 1)
  // case 5: a bb c ("a>bb>c", len 6 — bucket boundary vs case 1 at w=3)
  private def log = Seq(
    (1L, Seq("a", "b", "c")), (2L, Seq("a", "b")),
    (3L, Seq("x", "y", "z", "q")), (4L, Seq("a", "b", "c")),
    (5L, Seq("a", "bb", "c"))
  ).flatMap { case (c, acts) =>
    acts.zipWithIndex.map { case (a, i) =>
      (c, a, new Timestamp(i * 1000L), c * 100 + i)
    }
  }.toDF("case_id", "activity", "ts", "event_id")

  test("editPairs: banding finds all pairs within maxDist, none beyond") {
    val reps = Sessionize.variantRepresentatives(log, "case_id", "activity",
      "ts", "event_id")
    val pairs = TraceCluster.editPairs(reps, maxDist = 2)
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // lev(a>b>c, a>b) = 2; lev(a>b>c, a>bb>c) = 1 (cross-bucket);
    // lev(a>b, a>bb>c) = 3 > 2; x>y>z>q matches nothing.
    assert(pairs == Map((1L, 2L) -> 2, (1L, 5L) -> 1))
  }

  test("editPairs equals brute-force levenshtein on randomized inventories") {
    // Deterministic pseudo-random inventory over a tiny alphabet so
    // near-duplicates are common; includes lengths straddling the
    // short-string bucket (<= d) and every segment-scheme remainder.
    val rnd = new scala.util.Random(7)
    val words = (0 until 70).map { i =>
      val len = 1 + rnd.nextInt(14)
      (i.toLong, (0 until len).map(_ => "abc".charAt(rnd.nextInt(3))).mkString)
    }.distinctBy(_._2)
    for (d <- Seq(1, 3)) {
      val expected = (for {
        (ia, va) <- words; (ib, vb) <- words
        if ia < ib && lev(va, vb) <= d
      } yield (ia, ib, lev(va, vb))).toSet
      val reps = words.toDF("rep_case", "variant")
        .withColumn("n_cases", lit(1L))
      val got = TraceCluster.editPairs(reps, d)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == expected,
        s"d=$d missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    }
  }

  test("stripCommonAffixes: serial-ID universe stays entropy-bounded and exact") {
    // The r9 degenerate case in miniature: constant prefix AND suffix
    // around a short variable digit region. Without affix stripping the
    // shared-prefix segment is held by every string and candidates
    // degenerate toward n²/2 = 124,750; with stripping, blocking runs
    // on the 4 variable digits only.
    val words = (0 until 500).map(i => (i.toLong, f"ORD-${i * 7}%09d-END"))
    val expected = (for {
      (ia, va) <- words; (ib, vb) <- words
      if ia < ib && lev(va, vb) <= 1
    } yield (ia, ib, lev(va, vb))).toSet
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    val got = TraceCluster.editPairs(reps, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // Candidate volume: the self-defense claim. 500 strings over a
    // 4-digit variable region → segment buckets hold ~n/35 strings;
    // anything within a small multiple of n·(n/buckets) passes, n²/2
    // (the unstripped degenerate volume) must not.
    val cands = TraceCluster.debugCandidates(reps, maxDist = 1).count()
    assert(cands < 25000L, s"candidate volume $cands ~ n² — stripping broken")
  }

  test("contaminated serial universe: grouped dominant-prefix strip stays exact") {
    // The global-affix defense's weak spot, probed deliberately: ONE
    // name without the shared prefix makes lcp(min,max) = 0 and
    // disables the global strip. Since r11 editPairs then probes for
    // the DOMINANT affix and takes the grouped path — strip within
    // the dominant group, residue blocked unstripped, cross pairs via
    // the blocking-independent length+histogram filters — which this
    // test pins equal to brute force. The per-digit histogram bins
    // remain the INDEPENDENT last-resort defense (asserted below on
    // the deliberately-unstripped debugCandidates path).
    val serials = (0 until 500).map(i => (i.toLong, f"ORD-${i * 7}%09d-END"))
    val words = serials :+ (9999L, "acme corp")
    val expected = (for {
      (ia, va) <- words; (ib, vb) <- words
      if ia < ib && lev(va, vb) <= 1
    } yield (ia, ib, lev(va, vb))).toSet
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    val got = TraceCluster.editPairs(reps, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected)
    // the dominant-affix probe fires on this universe (the grouped
    // path is the one under test, not the bins-only fallback) …
    assert(TraceCluster.dominantAffix(reps).exists {
      case (affix, isSuffix) => !isSuffix && affix.startsWith("ORD-")
    })
    // … and degradation WITHOUT it is still graceful, not quadratic:
    // the histogram filter alone (debugCandidates = global strip only,
    // which the contaminant disabled) holds candidates well under the
    // ~125k all-pairs volume
    val cands = TraceCluster.debugCandidates(reps, maxDist = 1).count()
    assert(cands < 60000L,
      s"contaminated universe candidates $cands ~ n² — histogram defense broken")
  }

  test("grouped path: multiple contaminants incl. near-pairs inside the residue") {
    // 3 contaminants: two of them a distance-1 pair WITHIN the residue
    // (pins the R-side blocking) and each within distance 1 of nothing
    // serial (cross filters must not invent pairs); plus serial pairs
    // under the stripped dominant group. Exactness = brute force.
    val serials = (0 until 400).map(i => (i.toLong, f"ORD-${i * 3}%09d"))
    val words = serials ++ Seq(
      (9001L, "acme corp"), (9002L, "acme korp"), (9003L, "zenith ltd"))
    val expected = (for {
      (ia, va) <- words; (ib, vb) <- words
      if ia < ib && lev(va, vb) <= 1
    } yield (ia, ib, lev(va, vb))).toSet
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    val got = TraceCluster.editPairs(reps, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.contains((9001L, 9002L, 1)), "fixture sanity: residue pair")
  }

  test("grouped path: cross-group pair within the distance bound is kept") {
    // The soundness trap the global scheme documents: a residue string
    // within maxDist of a DOMINANT-group string (different strip
    // amounts would break the trim lemma if applied across groups).
    // The cross path compares ORIGINAL strings, so the pair survives.
    val serials = (0 until 300).map(i => (i.toLong, f"ORD-${i * 3}%09d"))
    // distance 1 from serial "ORD-000000000": drop the final char
    val words = serials :+ (9001L, "ORD-00000000")
    // "ORD-00000000" startsWith the dominant prefix "ORD-0000…" — so
    // force it into the residue via a string that does NOT:
    val words2 = words :+ (9002L, "XRD-000000000") // dist 1 from serial 0
    val reps = words2.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    val got = TraceCluster.editPairs(reps, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((0L, 9002L, 1)),
      s"cross-group distance-1 pair lost: ${got.filter(_._2 == 9002L)}")
    // the one-char-shorter same-prefix member lands INSIDE the
    // dominant group; within-G stripping must keep its pair too
    assert(got.contains((0L, 9001L, 1)),
      s"short same-prefix pair lost: ${got.filter(_._2 == 9001L)}")
  }

  test("TWO serial families: bipartite grouped path stays exact incl. cross-family pairs") {
    // The r11 multi-family case: two equal-mass serial universes, no
    // single dominant affix, global strip blind. maxDist = 3 makes
    // genuine CROSS-family pairs exist (lev("ORD-x", "SUP-x") = 3), so
    // the bipartite blocking path is actually exercised, not vacuous.
    val words = (0 until 300).map(i => (i.toLong, f"ORD-${i * 3}%09d")) ++
      (0 until 300).map(i => (5000L + i, f"SUP-${i * 3}%09d"))
    val expected = (for {
      (ia, va) <- words; (ib, vb) <- words
      if ia < ib && lev(va, vb) <= 3
    } yield (ia, ib, lev(va, vb))).toSet
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    assert(TraceCluster.dominantAffixes(reps).size == 2,
      s"family probe: ${TraceCluster.dominantAffixes(reps)}")
    val got = TraceCluster.editPairs(reps, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // fixture sanity: the cross-family pair class is non-empty
    assert(expected.exists { case (a, b, _) => a < 5000L && b >= 5000L })
  }

  test("TWO families sharing a prefix + contaminant: mutual-lcp strip stays exact") {
    // The m > 0 branch of multiGroupedPairs, made genuinely reachable
    // (the r11 self-review caught a vacuous first version where the
    // GLOBAL strip handled the shared head before the family machinery
    // ever ran): a contaminant kills the global strip, the two
    // families share the 4-char bucket key "ORD-" (so the flat probe
    // is blind and the HIERARCHICAL refinement must find them at key
    // length 8), and their affixes share `lcp = 4` — the bipartite
    // cross path must strip that mutual head uniformly or the shared
    // "ORD-" segment is a cross-family hub key. Cross distance-1
    // pairs (A↔B substitution, same digits) keep the path honest.
    val words = (0 until 250).map(i => (i.toLong, f"ORD-A${i * 3}%08d")) ++
      (0 until 250).map(i => (5000L + i, f"ORD-B${i * 3}%08d")) :+
      (9999L, "zzz corp")
    val expected = (for {
      (ia, va) <- words; (ib, vb) <- words
      if ia < ib && lev(va, vb) <= 1
    } yield (ia, ib, lev(va, vb))).toSet
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    // the hierarchical probe finds BOTH families under the shared head
    val fams = TraceCluster.dominantAffixes(reps)
    assert(fams.size == 2 && fams.forall(_.startsWith("ORD-")) &&
      fams.exists(_.startsWith("ORD-A")) && fams.exists(_.startsWith("ORD-B")),
      s"family probe: $fams")
    val got = TraceCluster.editPairs(reps, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // cross-family distance-1 pairs exist and survive the mutual strip
    assert(got.exists { case (a, b, _) => a < 5000L && b >= 5000L && b != 9999L })
  }

  test("post-strip families: a global strip must not end the defense chain") {
    // "OR1-…" + "OR2-…" share the head "OR": the global strip removes
    // it and SUCCEEDS — but the residue is still two serial families
    // ("1-A…", "2-B…"). Since the r11 self-review fix, the family
    // probes run on the strip residue, so this universe takes the
    // multi-family path instead of degenerating to hub blocking.
    val words = (0 until 250).map(i => (i.toLong, f"OR1-A${i * 3}%07d")) ++
      (0 until 250).map(i => (5000L + i, f"OR2-B${i * 3}%07d"))
    val expected = (for {
      (ia, va) <- words; (ib, vb) <- words
      if ia < ib && lev(va, vb) <= 1
    } yield (ia, ib, lev(va, vb))).toSet
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    val got = TraceCluster.editPairs(reps, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("dominantAffixes: natural-shaped inventories stay on the plain path") {
    // Variants sharing short first tokens (the q_trace_clusters shape):
    // buckets are big but the affix is short relative to the string —
    // the medianLen/3 discriminator must return Nil so the pinned
    // single-self-join plan is untouched.
    val rnd = new scala.util.Random(31)
    val acts = Seq("view", "click", "purchase")
    val words = (0 until 200).map { i =>
      (i.toLong, (0 until 8 + rnd.nextInt(8))
        .map(_ => acts(rnd.nextInt(3))).mkString(">"))
    }.distinctBy(_._2)
    val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    assert(TraceCluster.dominantAffixes(reps).isEmpty)
  }

  test("stripCommonAffixes: non-ASCII affixes and empty strings are safe") {
    // BMP non-ASCII prefix/suffix (code point == Java char, so the
    // in-spec brute force agrees with Spark's code-point levenshtein)
    // + randomized Greek bodies; also an empty-string member, which
    // pins the strip to a no-op (minLen 0 clamps both affixes).
    val rnd = new scala.util.Random(13)
    val bodies = (0 until 60).map { i =>
      (i.toLong,
        "日本-" + (0 until 1 + rnd.nextInt(6))
          .map(_ => "αβγ".charAt(rnd.nextInt(3))).mkString + "-終")
    }.distinctBy(_._2)
    for (words <- Seq(bodies, bodies :+ (999L, ""))) {
      val expected = (for {
        (ia, va) <- words; (ib, vb) <- words
        if ia < ib && lev(va, vb) <= 2
      } yield (math.min(ia, ib), math.max(ia, ib), lev(va, vb))).toSet
      val reps = words.toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
      val got = TraceCluster.editPairs(reps, maxDist = 2)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    }
  }

  test("stripCommonAffixes: identical strings and empty inventory are safe") {
    val same = Seq((1L, "aaaa"), (2L, "aaaa"), (3L, "aaaa"))
      .toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    // all strings identical → variable region empty (short-string path)
    val pairs = TraceCluster.editPairs(same, maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)))
    val empty = Seq.empty[(Long, String)]
      .toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
    assert(TraceCluster.editPairs(empty, maxDist = 1).count() == 0L)
  }

  test("clusterVariants: components labeled by min rep; singletons keep own id") {
    val out = TraceCluster.clusterVariants(log, "case_id", "activity",
      "ts", "event_id", maxDist = 2)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      "a>b>c" -> ((1L, 1L, 2L)),   // cases 1 and 4
      "a>b" -> ((2L, 1L, 1L)),
      "a>bb>c" -> ((5L, 1L, 1L)),
      "x>y>z>q" -> ((3L, 3L, 1L))))
  }

  test("driver tail: pairs and labels equal editPairs + Dedup.clusters at d = 1, 2, 5") {
    val serial = (0 until 300).map(i => f"ORD-$i%06d-X")
    val universes: Seq[(String, Seq[String])] = Seq(
      // lengths ≤ d take the pipeline's short-string bucket
      "short" -> Seq("", "a", "b", "ab", "ba", "abc", "xy", "xyz12", "a>b", "b>a>c"),
      // equal lengths, vids out of string order
      "ties" -> Seq("abcd", "abce", "abde", "bbcd", "wxyz", "wxya", "axyz", "abcf"),
      "non-BMP" -> Seq("a>\uD835\uDD18>c", "a>\uD835\uDD19>c", "a>b>c",
        "\uD835\uDD18\uD835\uDD18", "\uD835\uDD18", "\uD83D\uDE00>b",
        "\uD83D\uDE00>c", "b>c"),
      "serial" -> serial)
    for ((name, words) <- universes; d <- Seq(1, 2, 5)) {
      val inv = words.zipWithIndex.map { case (w, i) => (w, (words.size - i) * 10L) }
      val reps = inv.map(_.swap).toDF("rep_case", "variant").withColumn("n_cases", lit(1L))
      val want = TraceCluster.editPairs(reps, d).as[(Long, Long, Int)].collect().toSet
      val got = TraceCluster.driverPairs(inv, d).toSet
      assert(got == want, s"$name d=$d")
      val wantLabels = graft.dedup.Dedup.clusters(want.toSeq.toDF("vid_a", "vid_b", "dist"),
        "vid_a", "vid_b").as[(Long, Long)].collect().toMap
      val gotLabels = graft.dedup.Dedup.minRootLabels(got.toArray.map(p => (p._1, p._2))).toMap
      assert(gotLabels == wantLabels, s"$name d=$d")
      // and the brute-force oracle, so the equality is not vacuous:
      // code points map one-to-one onto BMP chars for `lev`
      val enc = words.flatMap(_.codePoints.toArray).distinct.zipWithIndex
        .map { case (cp, i) => cp -> (0xE000 + i).toChar }.toMap
      def bmp(w: String) = w.codePoints.toArray.map(enc).mkString
      val brute = (for {
        (a, va) <- inv; (b, vb) <- inv if va != vb
        dist = lev(bmp(a), bmp(b)) if dist <= d
      } yield (math.min(va, vb), math.max(va, vb), dist)).toSet
      assert(got == brute, s"$name d=$d")
    }
  }

  test("clusterVariants: at most SampleN variants run the probe and no edit-pair job") {
    // the probe is the variant table's one action; from a cold table
    // (an earlier test cached it), then the local frame collects free
    Variants.frame(log, "case_id", "activity", "ts", "event_id").unpersist()
    val c = graft.JobProbe(spark) {
      val out = TraceCluster.clusterVariants(log, "case_id", "activity",
        "ts", "event_id", maxDist = 2)
      val collected = graft.JobProbe(spark)(out.collect())
      assert(collected.jobs == 0, collected)
    }
    assert(c.actions == 1, c)
  }

  test("clusterVariants: a larger-than-SampleN inventory labels as the driver tail does") {
    // 1,100 cases with distinct variants over a digit alphabet: many
    // near pairs, above the probe's 1,001-row whole-inventory bound
    val big = (0 until 1100).flatMap { c =>
      f"${c * 7919 % 10007}%05d".map(_.toString).zipWithIndex.map { case (a, i) =>
        (c.toLong, a, new Timestamp(i * 1000L), c * 100L + i)
      }
    }.toDF("case_id", "activity", "ts", "event_id")
    val out = TraceCluster.clusterVariants(big, "case_id", "activity",
      "ts", "event_id", maxDist = 1).as[(String, Long, Long, Long)].collect()
    assert(out.length == 1100)
    val label = graft.dedup.Dedup.minRootLabels(
      TraceCluster.driverPairs(out.map(r => (r._1, r._2)).toSeq, 1)
        .map(p => (p._1, p._2))).toMap
    assert(out.forall(r => r._3 == label.getOrElse(r._2, r._2)))
    assert(out.count(r => r._3 != r._2) > 100)
  }
}
