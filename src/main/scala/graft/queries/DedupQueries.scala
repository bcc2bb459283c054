package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.functions.Portable.{P, charHashSql}

/** Dedup surface over `documents` / `embeddings`. Thresholds chosen
  * against the synthetic data: the corpus has 25 planted near-dup
  * pairs with 3-gram Jaccard ≈ 0.99 (next-highest pair < 0.3), and 59
  * embedding pairs with cosine >= 0.4.
  */
object DedupQueries {

  private val fixtures = graft.Fixtures.dir

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bloom-filter membership against a reference snapshot (the
    // English subset): constant-size bit array built via order-free
    // bit_or partial aggregation, BROADCAST to the probe side — the
    // 100 TB shape of "drop everything we already ingested". The
    // portable hash family makes even the false-positive set
    // bit-deterministic across engines (see dedup/Bloom.scala).
    "q_dedup_bloom" -> { (s, dir) =>
      import graft.dedup.Bloom
      val docs = Tables(s, dir, "documents")
      val key = graft.functions.NativeExpressions.charHash(col("text"), 7L)
      val words = Bloom.build(docs.where(col("lang") === "en"), key)
      Bloom.probe(docs, "doc_id", key, words)
    },
    // Perceptual image near-dup (multimodal/ImageDedup): decode the
    // committed MIXED-FORMAT corpus — PPM, PNG, and JPEG files in one
    // binaryFile scan (the 100 TB shape is the same scan over an
    // object store), exercising the whole Codec.raster dispatch:
    // Netpbm kernel for .ppm, the javax.imageio seam for .png/.jpg —
    // then dHash each raster, banded pigeonhole join, Hamming ≤ 6
    // verification. The oracle brute-forces ALL pairs from the
    // committed per-image hash table (fixtures/image_dhash.parquet,
    // regenerated by tools/DumpImageFixtures, JPEG hashes pinned from
    // the DECODED bytes) — so this row gates BOTH halves: every
    // format's decode→dHash path must still produce the committed
    // hashes, and the 8-band join must find exactly what exhaustive
    // search finds (the pigeonhole guarantee: Hamming ≤ 7 ⇒ one band
    // unchanged). The PNG entries are planted CROSS-CONTAINER
    // Hamming-0 twins of their PPM bases (lossless re-encode).
    "q_image_dedup" -> { (s, _) =>
      import s.implicits._
      import graft.multimodal.{ImageDedup, Multimodal}
      val media = s.read.format("binaryFile")
        .load(s"$fixtures/images")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val name = path.substring(path.lastIndexOf('/') + 1)
          val dot = name.lastIndexOf('.')
          val id = name.stripPrefix("img_").substring(0,
            dot - "img_".length).toLong
          Multimodal.MediaRow(id, "image", bytes,
            Multimodal.MediaMeta("image", 0, 0, 0, 0L,
              name.substring(dot + 1)))
        }
      ImageDedup.nearDupPairs(media, maxHamming = 6)
    },
    // Streaming ↔ batch near-dup parity under the hash gate: documents
    // staged to a tmpfs drop-dir (synthetic event time = doc_id seconds)
    // → map-side MinHash sketch (same native kernels and parameters as
    // q_dedup_minhash_lsh) → per-(band,bucket) keyed state where the
    // FIRST holder claims the bucket and later docs emit collisions.
    // All docs arrive in one micro-batch (ParityFeed pre-start feed),
    // so "first" = min (ts, doc_id) per bucket — which the oracle
    // re-derives from the same signature SQL the batch LSH oracle
    // uses. Collisions emit in Append mode at batch end; no sentinel
    // or timer firing is needed.
    "q_stream_neardup_parity" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingNearDup
      val docs = Tables(s, dir, "documents")
        // +1: event time must be strictly past the initial watermark
        // (0), or doc_id 0's hits are dropped as late in batch one
        .select(col("doc_id").cast("long").as("docId"), col("text"),
          ((col("doc_id").cast("long") + 1L) * 1000000L).as("tsMicros"))
      ParityFeed.withFeed(s, docs) { (feed, _) =>
      val hits = StreamingNearDup.bucketHits(s,
          ParityFeed.stream(s, feed).as[StreamingNearDup.Doc],
          k = 3, numHashes = 32, bands = 8, seed = 42L)
        .withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "10 seconds")
        .as[StreamingNearDup.BucketHit]
      ParityGate.collect(s, "q_stream_neardup_parity") {
        StreamingNearDup.collisions(s, hits, ttlSeconds = feed.gapSeconds)
      }() {
        _.select(col("docId").as("doc_id"), col("firstDocId").as("first_doc_id"),
          col("band"), col("bucket")) // bounded by bucket collisions
      }
      }
    },

    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
    },
    // Leakage-safe train/test split (ops/Split.assignLeakSafe): the
    // assignment unit is the exact-dup CLUSTER — the branch derives
    // from a hash of the normalized content, so copies of one text
    // can never straddle train/test (the held-out-leak failure mode
    // of per-id splits). Zero shuffle up to this summary: the flag is
    // one map-side codegen'd scan.
    "q_split_leak_safe" -> { (s, dir) =>
      graft.ops.Split
        .assignLeakSafe(Tables(s, dir, "documents"), "text",
          trainPermille = 700, seed = 5)
        .groupBy(col("is_train"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_key")).as("n_clusters"))
    },
    // HyperLogLog distinct-count sketch per language (constant memory
    // per group at any scale), deterministic by construction: portable
    // hash input, order-free register maxima, integer ranks, and an
    // estimator sum of dyadic rationals that is EXACT in a double —
    // so registers, digest, and raw estimate all hash-gate bit-equal.
    // Raw estimator only (the small-range correction needs ln());
    // n_zero ships so callers can correct downstream.
    "q_dedup_distinct_sketch" -> { (s, dir) =>
      import graft.functions.{HllSketch, NativeExpressions}
      val h = NativeExpressions.charHash(col("text"), 7L)
      Tables(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(HllSketch.registers(h, m = 64, budgetBits = 24).as("_regs"))
        .select(col("lang"),
          NativeExpressions.foldHash(
            expr("transform(_regs, r -> CAST(r AS BIGINT))"), 0L)
            .as("reg_digest"),
          expr("CAST(size(filter(_regs, r -> r = 0)) AS BIGINT)")
            .as("n_zero"),
          expr("aggregate(_regs, CAST(0.0 AS DOUBLE), " +
            "(s, r) -> s + 1.0 / CAST(shiftleft(CAST(1 AS BIGINT), r) AS DOUBLE))")
            .as("s_sum"))
        .withColumn("raw_est", lit(0.709) * lit(4096.0) / col("s_sum"))
    },
    // Streaming ↔ batch HLL parity — the 22nd gate, opening the
    // ORDER-FREE sketch family's streaming twins: register maxima form
    // a commutative monoid, so the one-pass streaming fold
    // (StreamingSketches.hllRegisters — keyed state is the group's m
    // registers, constant in stream length, NO pass 2, NO replay) is
    // BIT-EQUAL to the batch TypedImperativeAggregate under any
    // batching/arrival order; the per-value update is literally the
    // same method (HllSketch.updateRegister). Gate shares
    // q_dedup_distinct_sketch's oracle VERBATIM — digest, n_zero,
    // s_sum, raw_est all hash-exact.
    "q_stream_distinct_sketch_parity" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.NativeExpressions
      import graft.streaming.StreamingSketches
      val Ignore = "zz_ignore" // not a lang value; sentinel routing key
      val src = Tables(s, dir, "documents").select(
        col("lang"), col("text"),
        ((col("doc_id").cast("long") + 1L) * 1000000L).as("tsMicros"))
      // shared doc feed: this gate, the CM twin, and future doc-stream
      // gates stage the identical projection once per JVM
      ParityFeed.withSharedFeed(s, s"docs:$dir", src, slices = 32) { (feed, maxTs) =>
      ParityFeed.sentinel(s, feed, Ignore, "", feed.flush1)
      // the portable charHash kernel runs IN-PLAN on the stream side
      // (codegen), exactly as in the batch aggregate's input
      val items = ParityFeed.stream(s, feed)
        .select(when(col("tsMicros") > lit(maxTs), lit(Ignore))
            .otherwise(col("lang")).as("group"),
          NativeExpressions.charHash(col("text"), 7L).as("h"),
          col("tsMicros"))
        .withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "10 seconds")
        .as[StreamingSketches.HItem]
      ParityGate.collect(s, "q_stream_distinct_sketch_parity") {
        StreamingSketches.hllRegisters(s, items, m = 64,
          budgetBits = 24, gapSeconds = feed.gapSeconds, ignoreGroup = Ignore)
      }(() => ParityFeed.sentinel(s, feed, Ignore, "",
          feed.flush2)) {
        // bounded: |langs| rows × 64 ints; same downstream algebra as
        // the batch gate, over the flushed registers
        _.select(col("group").as("lang"), col("regs").as("_regs"))
          .select(col("lang"),
            NativeExpressions.foldHash(
              expr("transform(_regs, r -> CAST(r AS BIGINT))"), 0L)
              .as("reg_digest"),
            expr("CAST(size(filter(_regs, r -> r = 0)) AS BIGINT)")
              .as("n_zero"),
            expr("aggregate(_regs, CAST(0.0 AS DOUBLE), " +
              "(s, r) -> s + 1.0 / CAST(shiftleft(CAST(1 AS BIGINT), r) AS DOUBLE))")
              .as("s_sum"))
          .withColumn("raw_est", lit(0.709) * lit(4096.0) / col("s_sum"))
      }
      }
    },

    // Streaming ↔ batch Bloom parity — the order-free sketch family's
    // third twin: bit OR commutes, so the online filter build
    // (StreamingSketches.bloomWords — keyed state is one long per
    // touched 32-bit word, ≤ 2048 keys at 65536 bits regardless of
    // stream length, NO pass 2, NO replay) flushes words BIT-EQUAL to
    // the batch bit_or group-by; the batch probe then broadcasts the
    // flushed table exactly as q_dedup_bloom broadcasts its build.
    // The (word, mask) projection runs IN-PLAN with Bloom.positions'
    // own arithmetic (one source of truth for the bit layout), and the
    // gate shares q_dedup_bloom's oracle VERBATIM — even the
    // false-positive set is bit-deterministic. The 100 TB shape:
    // the ingest ledger maintained online as documents arrive, probed
    // in batch whenever a new snapshot must be diffed against it.
    "q_stream_bloom_parity" -> { (s, dir) =>
      import s.implicits._
      import graft.dedup.Bloom
      import graft.streaming.StreamingSketches
      val Ignore = "zz_ignore" // not a lang value; sentinel routing key
      val src = Tables(s, dir, "documents").select(
        col("lang"), col("text"),
        ((col("doc_id").cast("long") + 1L) * 1000000L).as("tsMicros"))
      // same shared doc feed as the HLL/CM twins: staged once per JVM
      ParityFeed.withSharedFeed(s, s"docs:$dir", src, slices = 32) { (feed, maxTs) =>
      ParityFeed.sentinel(s, feed, Ignore, "", feed.flush1)
      val key = graft.functions.NativeExpressions.charHash(col("text"), 7L)
      // build side = the lang='en' subset; sentinels (and any stale
      // sentinel slices left on the shared feed) pass the filter via
      // their far-future ts and route to word -1, dropped in the fold
      val items = Bloom.streamWordMasks(
          ParityFeed.stream(s, feed)
            .where(col("lang") === "en" || col("tsMicros") > lit(maxTs)),
          key, sentinel = col("tsMicros") > lit(maxTs))
        .withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "10 seconds")
        .as[StreamingSketches.BItem]
      ParityGate.collect(s, "q_stream_bloom_parity") {
        StreamingSketches.bloomWords(s, items, gapSeconds = feed.gapSeconds)
      }(() => ParityFeed.sentinel(s, feed, Ignore, "",
          feed.flush2)) { sink =>
        // the flushed table IS the filter (≤ 2048 rows); the probe is
        // the batch kernel over it, broadcast exactly as in
        // q_dedup_bloom (one row per doc, the gate's own output)
        Bloom.probe(Tables(s, dir, "documents"), "doc_id", key,
          sink.select(col("word"), col("bits")))
      }
      }
    },

    // Chunk-level exact dedup: fixed-boundary windows (the cheap scale
    // tier between doc-level exact and maximal spans) — every repeated
    // chunk occurrence with its first holder.
    "q_dedup_chunk_level" -> { (s, dir) =>
      Dedup.chunkDups(Tables(s, dir, "documents"), "doc_id", "text",
        width = 200, stride = 150, minChunkLen = 50)
    },
    "q_dedup_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        k = 3, tau = 0.8)
    },
    // Same result, PPJoin-style plan: prefix filtering proposes only
    // rare-token collisions instead of every co-occurring pair — the
    // exact-Jaccard join that survives hub tokens at 100 TB. Shares
    // q_dedup_jaccard's oracle (identical output contract).
    "q_dedup_jaccard_prefix" -> { (s, dir) =>
      Dedup.jaccardPairsPrefix(Tables(s, dir, "documents"), "doc_id", "text",
        k = 3, tauNum = 4, tauDen = 5)
    },
    "q_dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir, "documents"), "doc_id", "text",
        k = 3, tau = 0.5, numHashes = 32, bands = 8, seed = 42L)
    },
    "q_dedup_simhash" -> { (s, dir) =>
      Dedup.simhashPairs(Tables(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    },
    "q_dedup_embedding" -> { (s, dir) =>
      Dedup.cosinePairs(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        tau = 0.4)
    },
    // ANCHOR: fixed hyperplane count ⇒ per-bucket load grows with the
    // corpus, so the ×N ratio is super-linear BY CONSTRUCTION — the
    // labeled fixed-parameter baseline (ScaleBench.Anchors marks its
    // artifact row). Scale path: q_dedup_embedding_lsh_auto below.
    "q_dedup_embedding_lsh" -> { (s, dir) =>
      Dedup.cosinePairsLsh(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        tau = 0.4)
    },
    // Embedding LSH with planes auto-sized from the corpus count —
    // the scale path (fixed planes measured 9.7x runtime at 10x data
    // in the all-query audit; the fixed variant above stays as the
    // fixed-parameter anchor).
    "q_dedup_embedding_lsh_auto" -> { (s, dir) =>
      Dedup.cosinePairsLshAuto(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.4)
    },
    // SemDeDup: IVF-cell partition (map-side argmax, stride-sample
    // quantizer) + within-cell min-id representative selection; the
    // only join is the within-cell self-equi-join.
    "q_dedup_semantic" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val (cids, cvecs) = graft.sim.Ann.ivfCentroids(e, "vec_id", "embedding", 50)
      Dedup.semantic(e, "vec_id", "embedding", cids, cvecs, tau = 0.4)
    },
    // Near-dup pairs → connected components → canonical doc per
    // cluster (the dedup endgame: keep min-id, drop the rest).
    "q_dedup_clusters" -> { (s, dir) =>
      Dedup.clusters(Dedup.jaccardPairs(Tables(s, dir, "documents"),
        "doc_id", "text", k = 3, tau = 0.8))
    },

    // Same components, forced through the DISTRIBUTED hash-to-min
    // label-propagation path (driverMaxEdges = 0) — the branch a
    // 100 TB pair list takes when it exceeds the documented 2^22
    // driver union-find bound. Gating it directly (identical oracle)
    // proves the scale path computes the same component-min labels,
    // not just the bounded driver path.
    "q_dedup_clusters_distributed" -> { (s, dir) =>
      Dedup.clusters(Dedup.jaccardPairs(Tables(s, dir, "documents"),
          "doc_id", "text", k = 3, tau = 0.8),
        driverMaxEdges = 0L)
    },

    // The deduped corpus: one canonical doc per near-dup cluster plus
    // all unclustered docs — what the pair/cluster stages exist for.
    "q_dedup_canonical" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.canonicalize(docs, "doc_id",
          Dedup.clusters(Dedup.jaccardPairs(docs, "doc_id", "text",
            k = 3, tau = 0.8)))
        .select("doc_id")
    },

    // Sketch algebra: per-language UNION MinHash signature via the
    // custom TypedImperativeAggregate (element-wise min — the
    // signature of the union of all that language's shingle sets),
    // digested to one scalar per group.
    "q_dedup_lang_sigs" -> { (s, dir) =>
      import graft.functions.{MinHashUnionAgg, NativeExpressions}
      Tables(s, dir, "documents")
        .select(col("lang"), Dedup.shingleHashes(col("text"), 3).as("_sh"))
        .filter(size(col("_sh")) > 0)
        .select(col("lang"),
          Dedup.minhashSignature(col("_sh"), 32, 42L).as("_sig"))
        .groupBy("lang")
        .agg(NativeExpressions.foldHash(
          MinHashUnionAgg.minhashUnion(col("_sig")), 7L).as("sig_digest"))
    },

    // Exact substring-SPAN dedup (the span-level variant of
    // training-data dedup): maximal shared character spans >= minLen
    // across distinct docs, via position-indexed gram inverted index +
    // diagonal-run merge. Span-level where q_dedup_jaccard is
    // doc-level.
    "q_dedup_spans" -> { (s, dir) =>
      graft.dedup.SpanDedup.duplicatedSpans(Tables(s, dir, "documents"),
        "doc_id", "text", k = SpanK, minLen = SpanMinLen, maxDf = SpanMaxDf)
    },

    // Per-doc duplicated-char mass: union of all spans touching the
    // doc — what a "drop docs that are mostly boilerplate" filter
    // thresholds on.
    "q_dedup_span_coverage" -> { (s, dir) =>
      graft.dedup.SpanDedup.spanCoverage(
        graft.dedup.SpanDedup.duplicatedSpans(Tables(s, dir, "documents"),
          "doc_id", "text", k = SpanK, minLen = SpanMinLen, maxDf = SpanMaxDf))
    },

    // The scrubbed corpus (Lee et al. exact substring dedup as a
    // TRANSFORMATION): each duplicated span survives only in its
    // earliest doc; later docs get the span cut out and the remainder
    // re-concatenated.
    "q_dedup_scrub" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      graft.dedup.SpanDedup.scrub(docs, "doc_id", "text",
        graft.dedup.SpanDedup.duplicatedSpans(docs,
          "doc_id", "text", k = SpanK, minLen = SpanMinLen, maxDf = SpanMaxDf))
    },

    // Span-level DECONTAMINATION (the Lee et al. flow pointed at a
    // benchmark): spans shared between the test slice (doc_id < 20,
    // same convention as q_text_contamination) and the training slice
    // are scrubbed from the TRAINING side — test text is never
    // touched. Span discovery runs over the full corpus (so hub-gram
    // df semantics match the other span queries); only cross-boundary
    // pairs feed the scrub.
    "q_decontam_scrub" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val spans = graft.dedup.SpanDedup.duplicatedSpans(docs,
          "doc_id", "text", k = SpanK, minLen = SpanMinLen, maxDf = SpanMaxDf)
        .filter(col("id_a") < 20 && col("id_b") >= 20)
      graft.dedup.SpanDedup.scrub(docs.filter(col("doc_id") >= 20),
        "doc_id", "text", spans)
    },

    // Intra-document repetition spans (the Gopher repetition-REMOVAL
    // signal, where q_text_repetition only scores): maximal same-doc
    // repeats — (doc_id, first occurrence, repeat occurrence, length).
    "q_dedup_self_spans" -> { (s, dir) =>
      graft.dedup.SpanDedup.duplicatedSpans(Tables(s, dir, "documents"),
          "doc_id", "text", k = SelfK, minLen = SelfMinLen, maxDf = SpanMaxDf,
          includeSelf = true)
        .filter(col("id_a") === col("id_b"))
        .select(col("id_a").as("doc_id"), col("start_a"), col("start_b"),
          col("span_len"))
    },

    // Incremental snapshot diff: old/new snapshots synthesized
    // deterministically from the corpus (10% of ids dropped per side,
    // every 7th doc edited, half the dropped ids re-keyed +1000000 so
    // both 'moved' and plain 'removed' occur). The engine diffs by
    // content DIGEST (xxhash64+md5, map-side); the oracle diffs by the
    // raw text itself — digest equality must coincide with content
    // equality or the gate fails.
    "q_dedup_delta" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("text"))
      val neu = docs.filter(col("doc_id") % 10 =!= 6)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 20 === 6)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.dedup.Delta.corpusDelta(old, neu, "doc_id", "text")
    }
  )

  private val SpanK = 30
  private val SpanMinLen = 45
  private val SpanMaxDf = 64L
  // intra-doc repeats are shorter than cross-doc near-dup overlap in
  // this corpus; smaller window so the self gate is non-vacuous
  private val SelfK = 12
  private val SelfMinLen = 18

  // ---- shared DuckDB fragments (replicate Portable arithmetic) ----
  private val toks = "[x for x in string_split_regex(text, '\\s+') if len(x) > 0]"
  private val shingleHashes =
    s"list_distinct([${charHashSql("concat_ws(' ', t[i+1], t[i+2], t[i+3])")} " +
      "for i in generate_series(0, len(t)-3)])"
  private val docShingles =
    s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
       |sh AS (SELECT doc_id, $shingleHashes AS s FROM tk)""".stripMargin

  private val jaccardPairsSql =
    s"""$docShingles,
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / CAST(la.n + lb.n - inter AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN (SELECT doc_id, len(s) AS n FROM sh) la ON id_a = la.doc_id
       |JOIN (SELECT doc_id, len(s) AS n FROM sh) lb ON id_b = lb.doc_id
       |WHERE CAST(inter AS DOUBLE) / CAST(la.n + lb.n - inter AS DOUBLE) >= 0.8""".stripMargin

  private val clustersSql =
    s"""WITH RECURSIVE pr AS ($jaccardPairsSql),
       |e AS (SELECT id_a AS a, id_b AS b FROM pr
       |      UNION SELECT id_b, id_a FROM pr),
       |reach(node, label) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.node)
       |SELECT node AS doc_id, min(label) AS cluster_id
       |FROM reach GROUP BY node""".stripMargin

  // ---- span dedup: gram index + diagonal-run merge, SQL replica ----
  // (positions 0-based; DuckDB substr is 1-based, hence i-1 / i)
  private val spanGramSql =
    s"""g AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    ${charHashSql(s"substr(text, i, $SpanK)")} AS gh
       |  FROM documents,
       |    LATERAL (SELECT unnest(generate_series(1, length(text) - $SpanK + 1)) AS i) t
       |  WHERE length(text) >= $SpanK),
       |kept AS (SELECT doc_id, pos, gh FROM g
       |  QUALIFY count(*) OVER (PARTITION BY gh) <= $SpanMaxDf),
       |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.pos AS pos_a, b.pos AS pos_b
       |  FROM kept a JOIN kept b ON a.gh = b.gh AND a.doc_id < b.doc_id),
       |isl AS (SELECT id_a, id_b, pos_a, pos_a - pos_b AS diag,
       |    pos_a - row_number() OVER (
       |      PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS island
       |  FROM pr),
       |sp AS (SELECT id_a, id_b, min(pos_a) AS start_a,
       |    min(pos_a) - diag AS start_b,
       |    max(pos_a) - min(pos_a) + $SpanK AS span_len
       |  FROM isl GROUP BY id_a, id_b, diag, island
       |  HAVING max(pos_a) - min(pos_a) + $SpanK >= $SpanMinLen)""".stripMargin

  /** The scrub oracle, parameterized: cut the id_b-side merged
    * intervals of the spans satisfying `spanCond` out of the documents
    * satisfying `docCond`, keep the complement segments, re-concatenate
    * in order; untouched docs pass through, fully-covered docs come
    * back empty. Shared by q_dedup_scrub (all spans, all docs) and
    * q_decontam_scrub (cross test/train spans, train docs). */
  private def scrubOracleSql(spanCond: String, docCond: String): String =
    s"""WITH $spanGramSql,
       |iv AS (SELECT DISTINCT id_b AS doc_id, start_b AS s,
       |    start_b + span_len AS e FROM sp WHERE $spanCond),
       |ord AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM iv),
       |grp2 AS (SELECT *, sum(CASE WHEN prev_max IS NULL OR s > prev_max
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
       |  FROM ord),
       |cuts AS (SELECT doc_id, gid, min(s) AS us, max(e) AS ue
       |  FROM grp2 GROUP BY doc_id, gid),
       |segs AS (
       |  SELECT doc_id,
       |    coalesce(lag(ue) OVER (PARTITION BY doc_id ORDER BY us), 0) AS ss,
       |    us AS se
       |  FROM cuts
       |  UNION ALL
       |  SELECT doc_id, max(ue) AS ss, NULL AS se
       |  FROM cuts GROUP BY doc_id),
       |docs2 AS (SELECT doc_id, text FROM documents WHERE $docCond),
       |pieces AS (
       |  SELECT d.doc_id, x.ss,
       |    substr(d.text, CAST(x.ss + 1 AS BIGINT),
       |      CAST(coalesce(x.se, length(d.text)) - x.ss AS BIGINT)) AS piece
       |  FROM docs2 d JOIN segs x ON x.doc_id = d.doc_id
       |  WHERE coalesce(x.se, length(d.text)) > x.ss),
       |agg2 AS (SELECT doc_id, string_agg(piece, '' ORDER BY ss) AS clean_text
       |  FROM pieces GROUP BY doc_id),
       |cut_docs AS (SELECT DISTINCT doc_id FROM cuts)
       |SELECT d.doc_id,
       |  CASE WHEN cd.doc_id IS NOT NULL THEN coalesce(a.clean_text, '')
       |       ELSE d.text END AS clean_text
       |FROM docs2 d
       |LEFT JOIN agg2 a ON a.doc_id = d.doc_id
       |LEFT JOIN cut_docs cd ON cd.doc_id = d.doc_id""".stripMargin

  /** HLL register/digest/estimate oracle — shared verbatim by the
    * batch sketch gate and its bit-equal streaming twin. */
  private val distinctSketchSql =
    s"""WITH h AS (SELECT lang, ${charHashSql("text")} AS h FROM documents),
       |mixed AS (SELECT lang,
       |    (((((h * 2654435761) % $P) * ((h * 2654435761) % $P)) % $P)
       |      * 2654435761 + h) % $P AS h3
       |  FROM h),
       |b AS (SELECT lang, CAST(h3 % 64 AS INT) AS j,
       |    CAST(CASE WHEN h3 // 64 = 0 THEN 25
       |         ELSE 24 - length(bin(h3 // 64)) + 1 END AS INT) AS rk
       |  FROM mixed),
       |mx AS (SELECT lang, j, max(rk) AS mr FROM b GROUP BY lang, j),
       |grid AS (SELECT l.lang, g.j
       |  FROM (SELECT DISTINCT lang FROM documents) l,
       |    generate_series(0, 63) g(j)),
       |regs AS (SELECT grid.lang, grid.j, coalesce(mx.mr, 0) AS M
       |  FROM grid LEFT JOIN mx ON mx.lang = grid.lang AND mx.j = grid.j)
       |SELECT lang,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list(CAST(M AS BIGINT) ORDER BY j)),
       |    (d, x) -> (d*131 + x) % $P) AS reg_digest,
       |  CAST(sum(CASE WHEN M = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  sum(1.0 / CAST((CAST(1 AS BIGINT) << M) AS DOUBLE)) AS s_sum,
       |  0.709 * 4096.0
       |    / sum(1.0 / CAST((CAST(1 AS BIGINT) << M) AS DOUBLE)) AS raw_est
       |FROM regs GROUP BY lang""".stripMargin

  /** Bloom membership oracle with the exact bit layout of
    * dedup/Bloom.scala (k=4 ihash positions of the char-hash key mod
    * 65536 bits, 32-bit words, bit_or build over the lang='en' subset,
    * all-k-set probe) — shared verbatim by the batch gate and its
    * bit-equal streaming-build twin. */
  private val bloomSql = {
    val legs = graft.dedup.Bloom.positionsSql("x", 4, 65536, 42L)
    def posUnion(fromClause: String): String = legs.map { case (w, m) =>
      s"SELECT doc_id, $w AS word, $m AS mask FROM $fromClause"
    }.mkString("\n      UNION ALL ")
    s"""WITH ks AS (SELECT doc_id, lang, ${charHashSql("text")} AS x FROM documents),
       |bp AS (${posUnion("ks WHERE lang = 'en'")}),
       |w AS (SELECT word, bit_or(mask) AS bits FROM bp GROUP BY 1),
       |pp AS (${posUnion("ks")})
       |SELECT pp.doc_id,
       |  (sum(CASE WHEN (coalesce(w.bits, 0) & pp.mask) <> 0 THEN 1 ELSE 0 END) = 4)
       |    AS maybe_in_ref
       |FROM pp LEFT JOIN w USING (word)
       |GROUP BY pp.doc_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q_dedup_bloom" -> bloomSql,
    "q_stream_bloom_parity" -> bloomSql,
    // exhaustive Hamming search over the committed hash table — the
    // banded join must reproduce it exactly (see the query comment)
    "q_image_dedup" ->
      s"""WITH fp AS (
         |  SELECT media_id, dhash FROM '$fixtures/image_dhash.parquet')
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6""".stripMargin,
    // the batch LSH oracle's signature/band SQL re-derives the bucket
    // keys; "first" per bucket = min doc_id (event time is monotone in
    // doc_id by construction), everyone else collides with it
    "q_stream_neardup_parity" -> {
      val seed = 42L
      val aI = s"((2654435761*(2*i+1)+$seed) % $P)"
      val bI = s"((2654435761*(i+7)+${seed * 31}) % $P)"
      s"""$docShingles,
         |sig AS (SELECT doc_id, s,
         |  [list_min([(($aI*(x % $P) + $bI) % $P) for x in s])
         |   for i in generate_series(0, 31)] AS sg
         |  FROM sh WHERE len(s) > 0),
         |bands AS (SELECT doc_id, gb.b AS band,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [sg[gb.b*4+j] for j in generate_series(1, 4)]),
         |    (acc, v) -> (acc*1009 + v) % $P) AS bh
         |  FROM sig, generate_series(0, 7) gb(b)),
         |firsts AS (SELECT band, bh, min(doc_id) AS first_doc
         |  FROM bands GROUP BY band, bh)
         |SELECT b.doc_id, f.first_doc AS first_doc_id,
         |  CAST(b.band AS INT) AS band, b.bh AS bucket
         |FROM bands b JOIN firsts f ON b.band = f.band AND b.bh = f.bh
         |WHERE b.doc_id <> f.first_doc""".stripMargin
    },

    "q_dedup_spans" ->
      s"""WITH $spanGramSql
         |SELECT id_a, id_b, start_a, start_b, span_len FROM sp""".stripMargin,

    // same gram index, pairs restricted to SAME doc with pos_a < pos_b
    "q_dedup_self_spans" ->
      s"""WITH g AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    ${charHashSql(s"substr(text, i, $SelfK)")} AS gh
         |  FROM documents,
         |    LATERAL (SELECT unnest(generate_series(1, length(text) - $SelfK + 1)) AS i) t
         |  WHERE length(text) >= $SelfK),
         |kept AS (SELECT doc_id, pos, gh FROM g
         |  QUALIFY count(*) OVER (PARTITION BY gh) <= $SpanMaxDf),
         |pr AS (SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
         |  FROM kept a JOIN kept b
         |    ON a.gh = b.gh AND a.doc_id = b.doc_id AND a.pos < b.pos),
         |isl AS (SELECT doc_id, pos_a, pos_a - pos_b AS diag,
         |    pos_a - row_number() OVER (
         |      PARTITION BY doc_id, pos_a - pos_b ORDER BY pos_a) AS island
         |  FROM pr)
         |SELECT doc_id, min(pos_a) AS start_a,
         |  min(pos_a) - diag AS start_b,
         |  max(pos_a) - min(pos_a) + $SelfK AS span_len
         |FROM isl GROUP BY doc_id, diag, island
         |HAVING max(pos_a) - min(pos_a) + $SelfK >= $SelfMinLen""".stripMargin,

    // same snapshot construction; statuses derived from RAW TEXT
    // equality (the semantics the engine's digests must reproduce)
    "q_dedup_delta" ->
      """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3),
        |neu AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 6
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 6),
        |j AS (SELECT o.doc_id AS ido, n.doc_id AS idn,
        |    o.text AS t_old, n.text AS t_new
        |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id),
        |changed AS (SELECT ido AS doc_id, 'changed' AS status,
        |    CAST(NULL AS BIGINT) AS moved_to
        |  FROM j WHERE ido IS NOT NULL AND idn IS NOT NULL AND t_old <> t_new),
        |rem AS (SELECT ido AS id, t_old AS t FROM j WHERE idn IS NULL),
        |ad  AS (SELECT idn AS id, t_new AS t FROM j WHERE ido IS NULL),
        |mt AS (SELECT t, min(id) AS to_id FROM ad GROUP BY t),
        |ms AS (SELECT t, min(id) AS to_id FROM rem GROUP BY t),
        |removed AS (SELECT r.id AS doc_id,
        |    CASE WHEN mt.to_id IS NOT NULL THEN 'moved' ELSE 'removed' END AS status,
        |    mt.to_id AS moved_to
        |  FROM rem r LEFT JOIN mt ON mt.t = r.t),
        |added AS (SELECT a.id AS doc_id,
        |    CASE WHEN ms.to_id IS NOT NULL THEN 'moved' ELSE 'added' END AS status,
        |    ms.to_id AS moved_to
        |  FROM ad a LEFT JOIN ms ON ms.t = a.t)
        |SELECT * FROM changed UNION ALL
        |SELECT * FROM removed UNION ALL
        |SELECT * FROM added""".stripMargin,

    // cut the id_b-side merged intervals out of each doc, keep the
    // complement segments, re-concatenate in order; untouched docs
    // pass through, fully-covered docs come back empty
    "q_dedup_scrub" -> scrubOracleSql(spanCond = "TRUE", docCond = "TRUE"),

    // same scrub algebra, restricted to cross-boundary spans and
    // training-side docs (decontamination)
    "q_decontam_scrub" ->
      scrubOracleSql(spanCond = "id_a < 20 AND id_b >= 20",
        docCond = "doc_id >= 20"),

    "q_dedup_span_coverage" ->
      s"""WITH $spanGramSql,
         |sides AS (
         |  SELECT id_a AS doc_id, start_a AS s, start_a + span_len AS e FROM sp
         |  UNION
         |  SELECT id_b, start_b, start_b + span_len FROM sp),
         |ord AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM sides),
         |grp AS (SELECT *, sum(CASE WHEN prev_max IS NULL OR s > prev_max
         |      THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp_id
         |  FROM ord),
         |un AS (SELECT doc_id, grp_id, min(s) AS us, max(e) AS ue
         |  FROM grp GROUP BY doc_id, grp_id)
         |SELECT doc_id, CAST(sum(ue - us) AS BIGINT) AS dup_chars
         |FROM un GROUP BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY lower(trim(text))) AS canonical_id,
        |  count(*) OVER (PARTITION BY lower(trim(text))) AS group_size,
        |  doc_id <> min(doc_id) OVER (PARTITION BY lower(trim(text))) AS is_dup
        |FROM documents""".stripMargin,

    // the same two-step Knuth bucket as q_split_train, applied to the
    // portable content hash instead of a per-document id
    "q_split_leak_safe" -> {
      val ck = charHashSql("lower(trim(text))")
      s"""SELECT ${graft.ops.Split.oracleTrainPredicate(s"($ck)", 700, 5)}
         |    AS is_train,
         |  count(*) AS n_docs,
         |  count(DISTINCT ($ck)) AS n_clusters
         |FROM documents GROUP BY 1""".stripMargin
    },

    "q_dedup_distinct_sketch" -> distinctSketchSql,
    // The 22nd parity gate's registers are bit-equal to the batch
    // aggregate (order-free maxima, shared per-value update) — it
    // gates against the identical oracle.
    "q_stream_distinct_sketch_parity" -> distinctSketchSql,

    "q_dedup_chunk_level" -> {
      val chunkHash = charHashSql("ct")
      s"""WITH ch AS (SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_start,
         |    substr(text, g.i + 1, 200) AS ct
         |  FROM documents,
         |    LATERAL (SELECT unnest(generate_series(0, length(text) - 1, 150)) AS i) g
         |  WHERE length(text) > 0),
         |hh AS (SELECT doc_id, chunk_start, $chunkHash AS h
         |  FROM ch WHERE length(ct) >= 50),
         |gg AS (SELECT doc_id, chunk_start,
         |    first_value(doc_id) OVER wfull AS first_doc_id,
         |    first_value(chunk_start) OVER wfull AS first_start,
         |    count(*) OVER wfull AS n
         |  FROM hh
         |  WINDOW wfull AS (PARTITION BY h ORDER BY doc_id, chunk_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |SELECT doc_id, chunk_start, first_doc_id, first_start
         |FROM gg
         |WHERE n >= 2 AND NOT (doc_id = first_doc_id AND chunk_start = first_start)""".stripMargin
    },

    "q_dedup_jaccard" -> jaccardPairsSql,
    // prefix filtering is output-equivalent to the full inverted
    // index at the same τ — the oracle is shared verbatim
    "q_dedup_jaccard_prefix" -> jaccardPairsSql,

    // connected components via recursive label reachability: a node's
    // cluster id = min doc_id reachable over the (symmetrized) pair
    // edges — exactly Dedup.clusters' hash-to-min fixpoint.
    "q_dedup_clusters" -> clustersSql,
    // the distributed label-prop branch is output-equivalent by
    // construction (component min) — the oracle is shared verbatim
    "q_dedup_clusters_distributed" -> clustersSql,

    "q_dedup_canonical" ->
      s"""WITH RECURSIVE pr AS ($jaccardPairsSql),
         |e AS (SELECT id_a AS a, id_b AS b FROM pr
         |      UNION SELECT id_b, id_a FROM pr),
         |reach(node, label) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.node),
         |dups AS (SELECT node FROM reach GROUP BY node
         |         HAVING node <> min(label))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM dups)""".stripMargin,

    "q_dedup_lang_sigs" -> {
      val seed = 42L
      val aI = s"((2654435761*(2*i+1)+$seed) % $P)"
      val bI = s"((2654435761*(i+7)+${seed * 31}) % $P)"
      s"""WITH tk AS (SELECT doc_id, lang, $toks AS t FROM documents),
         |sh AS (SELECT doc_id, lang, $shingleHashes AS s FROM tk),
         |sig AS (SELECT lang,
         |  [list_min([(($aI*(x % $P) + $bI) % $P) for x in s])
         |   for i in generate_series(0, 31)] AS sg
         |  FROM sh WHERE len(s) > 0),
         |ex AS (SELECT lang, g.i AS i, sg[g.i] AS v
         |  FROM sig, generate_series(1, 32) g(i)),
         |mins AS (SELECT lang, i, min(v) AS mv FROM ex GROUP BY 1, 2),
         |u AS (SELECT lang, list(mv ORDER BY i) AS uu FROM mins GROUP BY lang)
         |SELECT lang, list_reduce(list_prepend(CAST(7 AS BIGINT), uu),
         |  (d,h) -> (d*131+h) % $P) AS sig_digest
         |FROM u""".stripMargin
    },

    "q_dedup_minhash_lsh" -> {
      val seed = 42L
      val aI = s"((2654435761*(2*i+1)+$seed) % $P)"
      val bI = s"((2654435761*(i+7)+${seed * 31}) % $P)"
      s"""$docShingles,
         |sig AS (SELECT doc_id, s,
         |  [list_min([(($aI*(x % $P) + $bI) % $P) for x in s])
         |   for i in generate_series(0, 31)] AS sg
         |  FROM sh WHERE len(s) > 0),
         |bands AS (SELECT doc_id, s, gb.b AS band,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [sg[gb.b*4+j] for j in generate_series(1, 4)]),
         |    (acc, v) -> (acc*1009 + v) % $P) AS bh
         |  FROM sig, generate_series(0, 7) gb(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
         |  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS jaccard
         |FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
         |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
         |  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.5""".stripMargin
    },

    // 60-bit fingerprint: bits 0-29 vote on the token hash, bits
    // 30-59 on h2 = (h*131 + 7) % P (plain BIGINT arithmetic, every
    // intermediate < 2^63); bands are 4 x 15 bits.
    "q_dedup_simhash" -> {
      val th = s"[${charHashSql("x")} for x in $toks]"
      val fp =
        s"""CAST(list_sum([CASE WHEN list_sum([
           |  (((CASE WHEN b < 30 THEN h ELSE (h*131 + 7) % ${graft.functions.Portable.P} END)
           |     >> (CASE WHEN b < 30 THEN b ELSE b - 30 END)) & 1)*2 - 1 for h in th]) > 0
           |  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
           |  for b in generate_series(0, 59)]) AS BIGINT)""".stripMargin
      s"""WITH t0 AS (SELECT doc_id, $th AS th FROM documents),
         |fp AS (SELECT doc_id, $fp AS f FROM t0),
         |bands AS (SELECT doc_id, f, gb.i AS band, (f >> (gb.i*15)) & 32767 AS key
         |  FROM fp, generate_series(0, 3) gb(i)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.f AS fa, b.f AS fb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin
    },

    "q_dedup_embedding_lsh" -> {
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
          s"for i in generate_series(1, len($a))]), (s, v) -> s + v)"
      val w = graft.sim.Ann.weightSql("(tbl*8 + p)", "i", 42L, 64)
      val planeDot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST(v[i] AS DOUBLE) * $w for i in generate_series(1, 64)]), " +
        s"(s, x) -> s + x)"
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |b AS (SELECT vec_id, v, gt.tbl AS tbl,
         |  CAST(list_sum([CASE WHEN $planeDot > 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END
         |    for p in generate_series(0, 7)]) AS BIGINT) AS bkt
         |  FROM e, generate_series(0, 3) gt(tbl)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, a.v AS va,
         |    c.vec_id AS id_b, c.v AS vb
         |  FROM b a JOIN b c
         |    ON a.tbl = c.tbl AND a.bkt = c.bkt AND a.vec_id < c.vec_id)
         |SELECT id_a, id_b,
         |  ${dot("va", "vb")} / (sqrt(${dot("va", "va")}) * sqrt(${dot("vb", "vb")})) AS cos
         |FROM cand
         |WHERE ${dot("va", "vb")} / (sqrt(${dot("va", "va")}) * sqrt(${dot("vb", "vb")})) >= 0.4""".stripMargin
    },

    // Same construction as q_dedup_embedding_lsh, with planes derived
    // from the corpus count IN SQL (smallest p in [2,48] with 2^p >=
    // ceil(n/16) — Ann.autoPlanes' integer-exact arithmetic), so the
    // oracle tracks cosinePairsLshAuto at ANY sf.
    "q_dedup_embedding_lsh_auto" -> {
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
          s"for i in generate_series(1, len($a))]), (s, v) -> s + v)"
      val w = graft.sim.Ann.weightSql("(tbl*pl + p)", "i", 42L, 64)
      val planeDot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST(v[i] AS DOUBLE) * $w for i in generate_series(1, 64)]), " +
        s"(s, x) -> s + x)"
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |params AS (SELECT LEAST(48, coalesce((SELECT min(p)
         |    FROM generate_series(2, 48) gp(p)
         |    WHERE (CAST(1 AS BIGINT) << p) >=
         |      (SELECT (count(*) + 15) // 16 FROM e)), 48)) AS pl),
         |b AS (SELECT vec_id, v, gt.tbl AS tbl,
         |  CAST(list_sum([CASE WHEN $planeDot > 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END
         |    for p in generate_series(0, pl - 1)]) AS BIGINT) AS bkt
         |  FROM e, generate_series(0, 3) gt(tbl), params),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, a.v AS va,
         |    c.vec_id AS id_b, c.v AS vb
         |  FROM b a JOIN b c
         |    ON a.tbl = c.tbl AND a.bkt = c.bkt AND a.vec_id < c.vec_id)
         |SELECT id_a, id_b,
         |  ${dot("va", "vb")} / (sqrt(${dot("va", "va")}) * sqrt(${dot("vb", "vb")})) AS cos
         |FROM cand
         |WHERE ${dot("va", "vb")} / (sqrt(${dot("va", "va")}) * sqrt(${dot("vb", "vb")})) >= 0.4""".stripMargin
    },

    // Assignment CTE identical to the IVF oracle (argmax cosine, ties
    // to the smaller centroid id); drop rule = smaller-id within-cell
    // neighbor at cos >= tau.
    "q_dedup_semantic" -> {
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
          s"for i in generate_series(1, len($a))]), (s, v) -> s + v)"
      def cos(a: String, b: String) =
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
         |ascore AS (SELECT e.vec_id, e.v, c.cid, ${cos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN c),
         |cells AS (SELECT vec_id, v, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |  FROM ascore) WHERE rn = 1),
         |n AS (SELECT vec_id, v, cid, sqrt(${dot("v", "v")}) AS nrm FROM cells),
         |drp AS (SELECT DISTINCT a.vec_id FROM n a JOIN n b
         |  ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE ${dot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4)
         |SELECT n.vec_id, n.cid AS cell_id, drp.vec_id IS NULL AS keep
         |FROM n LEFT JOIN drp ON n.vec_id = drp.vec_id""".stripMargin
    },

    "q_dedup_embedding" -> {
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
          s"for i in generate_series(1, len($a))]), (s, v) -> s + v)"
      s"""WITH n AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dot("embedding", "embedding")}) AS nrm FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${dot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4""".stripMargin
    }
  )
}
