package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.Ordered._
import graft.scale.{Bpe, Chunking, Classifier, Decontam, Dsir, Embeddings, LangModel, Multimodal, NearDup, Packing, Retrieval, Sampling, Similarity, Sketches, SpanDedup, TextOps}
import graft.streaming.{CorpusMonitor, SegmentStore, StreamingAnnIndex, StreamingChunkIndex, StreamingDedupIndex, StreamingRetrieval}

/** Driver-verifiable queries for the training-data-pipeline operators
  * (`graft.scale`) over the `documents` table, each with a DuckDB oracle
  * computing the identical deterministic result.
  */
object ScaleQueries {
  type Q = (SparkSession, String) => DataFrame

  private val markersSql = TextOps.EnglishMarkers.map(m => s"'$m'").mkString("[", ", ", "]")

  val queries: Map[String, Q] = Map(
    // Token counting / text stats: per-row projection only.
    "q_text_stats" -> ((s, d) => {
      TextOps.textStats(Tables.documents(s, d).select("doc_id", "text"), "text")
        .drop("text")
        .ordered("doc_id")
    }),

    // Language-ID heuristic: deterministic function-word scoring.
    "q_lang_id" -> ((s, d) => {
      TextOps.languageId(Tables.documents(s, d).select("doc_id", "text"), "text")
        .drop("text")
        .ordered("doc_id")
    }),

    // Quality scoring: diversity + stopword + length mix.
    "q_quality_score" -> ((s, d) => {
      TextOps.qualityScore(Tables.documents(s, d).select("doc_id", "text"), "text")
        .drop("text")
        .ordered("doc_id")
    }),

    // Exact dedup via md5 fingerprint. The corpus has no duplicate texts, so
    // duplicates are injected deterministically (every 5th doc re-appears
    // under doc_id+10000) — the dedup must identify exactly those.
    "q_dedup_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      TextOps.exactDedup(docs.union(dups), "doc_id", "text")
        .select("doc_id", "fingerprint", "canonical_id", "group_size", "is_dup")
        .ordered("doc_id")
    }),

    // Corpus token frequency: explode + hash agg, deterministic top-k.
    "q_token_freq" -> ((s, d) => {
      TextOps.tokenFrequency(Tables.documents(s, d), "text")
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),

    // MinHash-LSH near-dedup: banded signatures → bucket join → exact
    // Jaccard verify. The oracle is exact all-pairs, so the compare is only
    // deterministic where LSH recall is effectively 1: at threshold 0.7 with
    // r=3/b=32 a boundary pair (J=0.7) is missed with P ≈ 1.5e-6 and the
    // planted J≥0.8 duplicates with P < 1e-10 — and the corpus generator
    // separates dups (J≥0.8) from noise (J≤0.1), so no pair sits near the
    // boundary at ANY scale factor. (At threshold 0.5 the boundary miss
    // probability is ~1.4e-2 — correct behavior for LSH, but a flaky gate.)
    "q_dedup_minhash" -> ((s, d) => {
      NearDup.minHashDedup(Tables.documents(s, d), "doc_id", "text", threshold = 0.7)
        .ordered("a_id", "b_id")
    }),

    // Near-dup cluster resolution: minhash pairs → connected components →
    // one canonical doc per cluster. Exact copies of every 20th doc are
    // injected twice, so components mix size-3 cliques, the corpus's
    // planted pairs, and singletons. LSH recall is effectively 1 here
    // (copies have J=1, planted dups J≥0.8 — see q_dedup_minhash).
    "q_dedup_clusters" -> ((s, d) => {
      val labels = clusterLabels(plantedDups(Tables.documents(s, d).select("doc_id", "text")))
      val sizes = labels.groupBy("cluster_root").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("cluster_root"))
        .select(col("id").as("doc_id"), col("cluster_root"),
          col("is_canonical"), col("cluster_size"))
        .ordered("doc_id")
    }),

    // SimHash signatures — md5-derived, reproducible bit-for-bit by any
    // engine (the point of a content fingerprint). Repartition first: the
    // corpus arrives as one input split, and signature math is CPU-bound.
    "q_simhash" -> ((s, d) => {
      val n = s.sessionState.conf.numShufflePartitions
      NearDup.withSimHash(
        Tables.documents(s, d).repartition(n, col("doc_id")).select("doc_id", "text"),
        "text")
        .select("doc_id", "simhash")
        .ordered("doc_id")
    }),

    // SimHash near-dedup: 4-block banding is exact for hamming ≤ 3
    // (pigeonhole), verification keeps hamming ≤ 3.
    "q_dedup_simhash" -> ((s, d) => {
      NearDup.simHashDedup(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .ordered("a_id", "b_id")
    }),

    // EXACT set-similarity join via prefix filtering (AllPairs) — no
    // probabilistic recall; candidates provably cover every J ≥ 0.5 pair.
    "q_ngram_jaccard" -> ((s, d) => {
      NearDup.ngramJaccardJoin(Tables.documents(s, d), "doc_id", "text", threshold = 0.5)
        .ordered("a_id", "b_id")
    }),

    // Exact substring (span-level) dedup, Lee et al. ACL 2022: duplicated
    // k-token runs keep only their smallest-(doc,pos) occurrence. Fixture
    // plants half-copies (the first floor(n/2) tokens of every >=16-token
    // doc, id+10000) — each reduces to '' or a short tail; the base
    // corpus's planted near-dups additionally shed unmutated 8-token runs.
    "q_span_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text")
      val half = base
        .withColumn("_t", TextOps.tokens(col("text")))
        .filter(size(col("_t")) >= 16)
        .select((col("doc_id") + 10000).as("doc_id"),
          array_join(slice(col("_t"), lit(1), floor(size(col("_t")) / 2).cast("int")), " ")
            .as("text"))
      SpanDedup.dedupSpans(base.union(half), "doc_id", "text", k = 8)
        .select("doc_id", "dedup_text", "n_removed")
        .ordered("doc_id")
    }),

    // Total cosine under garbage embeddings: zero-norm vectors planted on
    // BOTH sides (corpus twins at +1e8, two zeroed members of the frozen
    // 3-query set) pin the below-range sentinel `Similarity.UndefinedCos`
    // end-to-end against the oracle — every sentinel row must carry exactly
    // −2.0, every well-formed pair the unchanged rounded cosine. The query
    // set is frozen (ids 3/100/197 exist at every SF), so output grows
    // linearly with the corpus and the probe side broadcasts.
    "q_cos_undefined" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val v = col("embedding").cast(ArrayType(DoubleType))
      val corpus = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), v.as("v"))
        .unionByName(e.filter(col("vec_id") % 100 === 0)
          .select((col("vec_id") + 100000000L).as("vec_id"),
            transform(v, _ => lit(0.0)).as("v")))
      val probes = e.filter(col("vec_id").isin(3L, 100L, 197L))
        .select(col("vec_id").as("q_id"), v.as("qv"))
        .unionByName(e.filter(col("vec_id").isin(3L, 197L))
          .select((col("vec_id") + 100000000L).as("q_id"),
            transform(v, _ => lit(0.0)).as("qv")))
      probes.crossJoin(corpus)
        .select(col("q_id"), col("vec_id").as("c_id"),
          round(Similarity.cosine(col("qv"), col("v")), 6).as("cos"))
        .ordered("q_id", "c_id")
    }),

    // Exact cosine top-5 for the label-0 query set — the ANN baseline.
    "q_embed_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("label") === 0), k = 5)
        .ordered("q_id", "rank")
    }),

    // IVF-flat (nprobe=1): vec_id % 10 == 3 vectors serve as centroids;
    // every vector assigned to its nearest centroid; queries probe only
    // their own bucket. Deterministic (rounded cosine, id tie-breaks) so
    // the oracle reproduces the same buckets and ranks.
    "q_embed_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") % 10 === 3),
        e.filter(col("label") === 0), k = 3)
        .ordered("q_id", "rank")
    }),

    // IVF with nprobe=2: queries scan their two nearest centroids' buckets —
    // the recall dial for queries near Voronoi boundaries. Corpus buckets
    // stay disjoint (nearest-1), so no pair dedup is needed.
    "q_embed_ivf_nprobe" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopKProbe(e, e.filter(col("vec_id") % 10 === 3),
        e.filter(col("label") === 0), k = 3, nprobe = 2)
        .ordered("q_id", "rank")
    }),

    // BPE-style pre-tokenization counts. The corpus text is pure [a-z ], so
    // digit/punctuation runs are appended deterministically (same expression
    // in the oracle) to exercise every regex branch.
    "q_bpe_tokens" -> ((s, d) => {
      val augmented = concat(col("text"), lit(" v"), col("doc_id").cast(StringType), lit(".x!"))
      TextOps.bpeTokenStats(
        Tables.documents(s, d).select(col("doc_id"), augmented.as("text")), "text")
        .drop("text")
        .ordered("doc_id")
    }),

    // Winnowing fingerprints (rolling k-gram hash → window minima): emitted
    // as canonical JSON (nested arrays aren't hash-comparable driver-side).
    "q_fingerprint" -> ((s, d) => {
      val n = s.sessionState.conf.numShufflePartitions
      TextOps.winnowFingerprints(
        Tables.documents(s, d).repartition(n, col("doc_id")).select("doc_id", "text"),
        "text")
        .select(col("doc_id"), size(col("fingerprints")).as("n_fps"),
          to_json(col("fingerprints")).as("fp_json"))
        .ordered("doc_id")
    }),

    // Embedding-cosine near-dup: sign-bit LSH banding + exact verify. The
    // corpus has no natural near-dups (max pairwise cos 0.51), so
    // direction-identical scaled copies (same content, different
    // normalization) are injected deterministically — their sign signatures
    // are IDENTICAL (positive scaling preserves dot-product signs), so LSH
    // recall is exactly 1 and the exact-oracle compare is deterministic.
    "q_dedup_embed" -> ((s, d) => {
      Similarity.cosineLshDedup(withScaledCopies(doubleEmbeddings(s, d)), "vec_id", "embedding",
        threshold = 0.99)
        .ordered("a_id", "b_id")
    }),

    // Deterministic hash split: reproducible train/valid/test assignment
    // (stable under repartitioning and appends — unlike randomSplit) plus
    // the per-split counts a pipeline sanity-checks.
    "q_hash_split" -> ((s, d) => {
      Sampling.hashSplit(Tables.documents(s, d).select("doc_id"), "doc_id",
        bucketOut = Some("bucket"))
        .ordered("doc_id")
    }),

    // Sequence packing (concat-then-chunk): per-source prefix-sum window
    // assigns every document its token span and chunk range. Window is per
    // group — parallel across sources, no global sort.
    "q_pack_chunks" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
      Packing.packChunks(docs, "doc_id", "n_tokens", "source", contextLen = 128)
        .ordered("doc_id")
    }),

    // Stratified deterministic sampling: rebalance by language — hold rare
    // strata whole, downsample the dominant one. Pure per-row hash filter.
    "q_stratified_sample" -> ((s, d) => {
      Sampling.stratifiedHashSample(Tables.documents(s, d).select("doc_id", "lang"),
        "doc_id", "lang", Seq("en" -> 25, "zh" -> 100), defaultPct = 60)
        .ordered("doc_id")
    }),

    // Text cleaning: the corpus is pure [a-z ], so case/digit/punct/space
    // noise is injected deterministically (same expression in the oracle)
    // to exercise every normalization branch.
    "q_text_clean" -> ((s, d) => {
      val noisy = concat(lit("  <P>"), upper(substring(col("text"), 1, 15)),
        expr("substring(text, 16)"), lit(" 42!!  "))
      TextOps.cleanText(
        Tables.documents(s, d).select(col("doc_id"), noisy.as("text")), "text")
        .drop("text")
        .ordered("doc_id")
    }),

    // Embedding prep: L2-normalize (rounded norm), then symmetric int8
    // quantization of the unit vector. floor(v+0.5) round-half-up and
    // fold-order-stable norms keep both engines bit-identical.
    "q_embed_quant" -> ((s, d) => {
      Embeddings.withInt8Quantized(
        Embeddings.withL2Normalized(doubleEmbeddings(s, d), "embedding"), "unit")
        .select(col("vec_id"), round(col("norm"), 6).as("norm6"),
          round(col("scale"), 6).as("scale6"), to_json(col("q")).as("q_json"))
        .ordered("vec_id")
    }),

    // The training-corpus pipeline END-TO-END: noisy corpus (injected case/
    // punct noise + duplicate docs) → clean → quality gate → exact dedup →
    // language rebalance → sequence packing. One composed declarative plan:
    // narrow projections + two hash shuffles (dedup groupBy, pack window) —
    // the shape a real 100 TB preparation run has per shard.
    "q_corpus_pipeline" -> ((s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "source", "lang", "text")
      val dups = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("source"), col("lang"), col("text"))
      val noisy = base.unionByName(dups)
        .select(col("doc_id"), col("source"), col("lang"),
          concat(upper(substring(col("text"), 1, 10)), expr("substring(text, 11)"),
            lit(" !!")).as("text"))
      val cleaned = TextOps.cleanText(noisy, "text")
        .select(col("doc_id"), col("source"), col("lang"), col("clean").as("text"))
      val good = TextOps.qualityScore(cleaned, "text").filter(col("quality") >= 0.4)
      val uniq = TextOps.exactDedup(good, "doc_id", "text").filter(!col("is_dup"))
      val sampled = Sampling.stratifiedHashSample(uniq, "doc_id", "lang",
        Seq("en" -> 50), defaultPct = 100)
      Packing.packChunks(
        sampled.withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast(LongType)),
        "doc_id", "n_tokens", "source", contextLen = 128)
        .select(col("doc_id"), col("source"), col("lang"),
          round(col("quality"), 6).as("quality6"), col("n_tokens"),
          col("tok_start"), col("first_chunk"), col("n_chunks"))
        .ordered("doc_id")
    }),

    // Token-budget accounting with ROLLUP: per (split, lang) totals plus
    // per-split and grand totals in ONE aggregation pass (Spark expands
    // grouping sets map-side; one shuffle). Group keys are coalesced to
    // 'ALL' markers so the total rows order identically in both engines
    // (NULL sort order differs between Spark and DuckDB).
    "q_rollup_budget" -> ((s, d) => {
      val docs = Sampling.hashSplit(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens")),
        "doc_id")
      docs.rollup("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .select(coalesce(col("split"), lit("ALL")).as("split"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("total_tokens"))
        .ordered("split", "lang")
    }),

    // Exact interpolated percentiles per group — quality-threshold tuning
    // over value distributions. Spark `percentile` and DuckDB
    // `quantile_cont` share the sorted-index + linear-interpolation
    // definition; rounded to 6 decimals for the cross-engine compare.
    "q_percentiles" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, array(0.5, 0.9, 0.99))").as("p"))
        .select(col("event_type"),
          round(col("p")(0), 6).as("p50"),
          round(col("p")(1), 6).as("p90"),
          round(col("p")(2), 6).as("p99"))
        .ordered("event_type")
    }),

    // Pivot as conditional aggregation (the engine-portable spelling of
    // PIVOT): one row per user, one column per event type — single
    // map-side-combined shuffle regardless of column count.
    "q_pivot_events" -> ((s, d) => {
      val dec2 = DecimalType(18, 2)
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          sum(when(col("event_type") === "purchase", col("value").cast(dec2)))
            .cast(DoubleType).as("purchase_value"))
        .ordered("user_id")
    }),

    // LAG window + aggregation: inter-event gap statistics per user — the
    // ranking/offset window family over the event stream. One keyed
    // shuffle; the groupBy reuses the window's partitioning.
    "q_event_gaps" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .withColumn("gap_ms",
          unix_millis(col("ts")) - unix_millis(lag("ts", 1).over(w)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max("gap_ms").as("max_gap_ms"),
          sum("gap_ms").as("sum_gap_ms"))
        .ordered("user_id")
    }),

    // Multimodal resize: nearest-neighbor byte resample to a fixed width,
    // emitted as hex so the driver can hash-compare it.
    "q_multimodal_resize" -> ((s, d) => {
      val bin = encode(col("text"), "UTF-8")
      Tables.documents(s, d).select(
        col("doc_id"),
        hex(Multimodal.resizeBytes(bin, 16)).as("resized_hex"),
        octet_length(bin).as("byte_len"))
        .ordered("doc_id")
    }),

    // Multimodal REAL decode: a deterministic synthetic BMP per doc
    // (dimensions + every pixel are closed-form in (doc_id, x, y)), decoded
    // by the actual 24bpp BMP parser (offset arithmetic, no codec library)
    // through the per-partition decode seam. The oracle recomputes the
    // per-channel means from the pixel formulas directly — it never parses
    // BMP, so agreement proves the decoder reads the layout correctly.
    "q_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val frames = ids.map(id => (id, 0, Multimodal.syntheticBmp(id)))
      Multimodal.decodeImages(frames).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .ordered("doc_id")
    }),

    // Real PCM WAV decode through the same partition-batched seam as the
    // BMP decode: synthetic RIFF payloads whose samples are closed-form in
    // (doc_id, i), so the oracle recomputes amplitude statistics without
    // parsing RIFF — green means the byte-level codec is right.
    "q_multimodal_audio" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val frames = ids.map(id => (id, 0, Multimodal.syntheticWav(id)))
      Multimodal.decodeAudio(frames).toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"), col("n_samples"),
          round(col("mean_abs"), 6).as("mean_abs"),
          round(col("rms"), 6).as("rms"))
        .ordered("doc_id")
    }),

    // Multimodal: documents.text as a stand-in binary payload — typed
    // metadata (length/sha256/magic) + frame sampling, all over BINARY.
    "q_multimodal_meta" -> ((s, d) => {
      val bin = encode(col("text"), "UTF-8")
      Tables.documents(s, d).select(
        col("doc_id"),
        Multimodal.mediaMeta(bin).as("m"),
        size(Multimodal.sampleFrames(bin, frameLen = 32, stride = 64)).as("n_frames"),
        md5(concat_ws("|",
          transform(Multimodal.sampleFrames(bin, frameLen = 32, stride = 64),
            f => f.cast(StringType)))).as("frames_sig"))
        .select(col("doc_id"), col("m.byte_len").as("byte_len"),
          col("m.sha256").as("sha256"), col("m.magic").as("magic"),
          col("n_frames"), col("frames_sig"))
        .ordered("doc_id")
    }),

    // Benchmark decontamination: docs with doc_id % 50 = 0 stand in for the
    // eval set; every other doc is train. 5-gram overlap, counted exactly.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Decontam.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 5)
        .ordered("doc_id")
    }),

    // Same contamination report via the Bloom-prefilter path (exact output;
    // the prefilter only prunes the gram shuffle — see Decontam scaladoc).
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Decontam.bloomDecontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 5)
        .ordered("doc_id")
    }),

    // DSIR importance weights: docs with doc_id % 10 = 1 stand in for the
    // target corpus; every other doc is raw and gets a weight.
    "q_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Dsir.importanceWeights(
        docs.filter(col("doc_id") % 10 =!= 1),
        docs.filter(col("doc_id") % 10 === 1),
        "doc_id", "text")
        .ordered("doc_id")
    }),

    // Gumbel top-k resampling over the same weights: sampling-without-
    // replacement ∝ exp(weight), deterministic via md5-derived noise.
    "q_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      Dsir.resampleTopK(
        docs.filter(col("doc_id") % 10 =!= 1),
        docs.filter(col("doc_id") % 10 === 1),
        "doc_id", "text", k = 50)
    }),

    // Gopher-style repetition filters: top-token fraction + duplicate
    // 2/3-gram fractions, with the quality-gate flag.
    "q_repetition" -> ((s, d) => {
      TextOps.repetitionStats(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text")
        .ordered("doc_id")
    }),

    // PII redaction: deterministic synthetic PII (email on even ids, phone
    // on ids % 3 = 0, an IP on every doc) injected, then redacted + counted.
    // The corpus text itself is letters+spaces, so every match is planted.
    "q_pii_redact" -> ((s, d) => {
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" call 555-"),
              lpad(pmod(col("doc_id"), lit(100)).cast(StringType), 3, "0"), lit("-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0")))
            .otherwise(lit("")),
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast(StringType),
            lit("."), pmod(col("doc_id"), lit(100)).cast(StringType))).as("text"))
      TextOps.redactPii(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
        .ordered("doc_id")
    }),

    // TF-IDF top-3 terms per document: the classic relevance weighting over
    // the corpus, exact modulo a 4-decimal rounding of ln.
    "q_tfidf" -> ((s, d) => {
      TextOps.tfIdfTopTerms(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text", topK = 3)
        .ordered("doc_id", "rank")
    }),

    // Winnowing copy detection (MOSS-style): docs sharing ≥2 surviving
    // fingerprints pair up — SUBSTRING-level overlap, which catches the
    // planted prefix-mutated copies (every 31st doc re-appears with an
    // edited head) that exact dedup misses and token-shingle Jaccard
    // under-scores. Ubiquitous fingerprints (document frequency > 5) carry
    // no copy signal and are dropped before the self-join — the same
    // selectivity dial as the LSH band and prefix-filter operators; without
    // it the hot fingerprint's bucket is quadratic.
    "q_winnow_pairs" -> ((s, d) => {
      val n = s.sessionState.conf.numShufflePartitions
      val base = Tables.documents(s, d).select("doc_id", "text")
      val copies = base.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("prefix edit "), col("text")).as("text"))
      val corpus = base.unionByName(copies).repartition(n, col("doc_id"))
      // cache BEFORE the explode: Generate would otherwise inline the
      // staged gram array into the window-minimum lambda, recomputing the
      // whole md5 pipeline once PER WINDOW (observed: 121 s instead of
      // 0.3 s at sf0.01 — the quadratic-inline pathology the
      // winnowFingerprints scaladoc warns about, triggered by explode)
      val fps = ownedCache(TextOps.winnowFingerprints(corpus, "text")
        .select(col("doc_id"), col("fingerprints")), "winnow-fps")
      val x = fps.select(col("doc_id"), explode(col("fingerprints")).as("fp"))
      val keep = x.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 5).select("fp")
      val xx = x.join(keep, Seq("fp"))
      xx.select(col("fp"), col("doc_id").as("a_id"))
        .join(xx.select(col("fp"), col("doc_id").as("b_id")), Seq("fp"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .ordered("a_id", "b_id")
    }),

    // One k-means iteration (the IVF index-BUILD loop): assign every vector
    // to its nearest centroid, then recompute each centroid as the
    // element-wise mean of its bucket. The mean folds a SORTED value list
    // per (bucket, dim) so the double accumulation order is identical in
    // any engine — determinism the unordered hash-agg sum can't give. That
    // sorted fold is the ORACLE formulation: collect_list moves each
    // bucket's values through the shuffle. A production iteration swaps it
    // for plain avg() — map-side partial combine, buckets × dims shuffle
    // rows — accepting last-ulp nondeterminism no one checks.
    "q_kmeans_step" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val assigned = Similarity.assignBuckets(e, e.filter(col("vec_id") % 10 === 3))
      assigned.select(col("bucket"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("bucket", "pos")
        .agg(round(
          aggregate(array_sort(collect_list(col("x"))), lit(0.0), (a, v) => a + v)
            / count(lit(1)), 6).as("m"))
        .ordered("bucket", "pos")
    }),

    // Edit-distance verification of near-dup candidates: LSH generates the
    // pairs, levenshtein CONFIRMS at the character level — the expensive
    // exact metric runs only on candidates, never all pairs (the scale
    // contract of every verifier in this package).
    "q_edit_distance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val pairs = NearDup.minHashDedup(docs, "doc_id", "text", threshold = 0.7)
      val lev = levenshtein(col("a_text"), col("b_text"))
      pairs
        .join(docs.select(col("doc_id").as("a_id"), col("text").as("a_text")), Seq("a_id"))
        .join(docs.select(col("doc_id").as("b_id"), col("text").as("b_text")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("jac"),
          lev.as("lev"),
          round(lit(1.0) - lev.cast(DoubleType) /
            greatest(length(col("a_text")), length(col("b_text"))), 6).as("lev_sim"))
        .ordered("a_id", "b_id")
    }),

    // Token-budget mixture sampling: spend half the corpus's tokens across
    // sources weighted (srcN -> N%3+1); per-source acceptance rates in
    // exact integer permille, applied via the append-stable hash bucket.
    "q_mixture_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
      val weights = docs.select("source").distinct()
        .withColumn("w", substring(col("source"), 4, 10).cast(LongType) % 3 + 1)
      Sampling.mixtureSample(docs, "doc_id", "source", "n_tokens", weights,
        budgetNum = 1, budgetDen = 2)
        .select("doc_id", "source", "n_tokens", "w", "p_permille", "bucket_pm")
        .ordered("doc_id")
    }),

    // KMV distinct-count sketch: per-event-type distinct users estimated
    // from O(k) mergeable state (native TypedImperativeAggregate — ONE pass,
    // map-side partials, k longs shuffled per group). Deterministic, so the
    // oracle recomputes the identical sketch with a row_number()<=k window;
    // n_exact sits alongside to make the estimate auditable.
    "q_kmv_distinct" -> ((s, d) => {
      val k = 64
      Sketches.kmvDistinct(Tables.events(s, d), Seq("event_type"), "user_id", k)
        .join(Tables.events(s, d).filter(col("user_id").isNotNull)
          .groupBy("event_type")
          .agg(countDistinct("user_id").as("n_exact")), Seq("event_type"))
        .select("event_type", "n_exact", "n_est")
        .ordered("event_type")
    }),

    // Corpus-trained unigram LM scoring (CCNet-style quality gate): mean
    // negative log-likelihood per document; decimal per-token rounding makes
    // the sum order-independent and therefore oracle-able.
    "q_ngram_lm" -> ((s, d) => {
      LangModel.unigramNll(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text")
        .ordered("doc_id")
    }),

    // Next-fit sequence packing without document splitting: sequential
    // per-group fold (mapPartitions — the one shape no window expresses),
    // oracled by a recursive CTE walking the identical order.
    "q_pack_nextfit" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
      Packing.nextFitPack(docs, "doc_id", "n_tokens", "source", capacity = 256L)
        .ordered("doc_id")
    }),

    // Priority-aware retention: clusters get a "mirror" copy of every 20th
    // doc under doc_id+10000 with priority 0 vs the originals' 1 — so the
    // kept doc is the HIGHER-id mirror, proving the policy overrides the
    // min-id default. Ties (planted near-dup pairs, all priority 1) fall to
    // text length then id.
    "q_dedup_priority" -> ((s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text")
      val mirror = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val corpus = base.withColumn("prio", lit(1))
        .unionByName(mirror.withColumn("prio", lit(0)))
      val labels = clusterLabels(corpus)
      val attrs = corpus.select(col("doc_id").as("id"), col("prio"),
        length(col("text")).as("sz"))
      NearDup.resolveCanonical(labels, attrs, "id", "prio", "sz")
        .select(col("id").as("doc_id"), col("cluster_root"), col("keep_id"),
          col("is_kept"))
        .ordered("doc_id")
    }),

    // CCNet-style per-language perplexity terciles: corpus unigram LM →
    // per-language ntile(3) → head/middle/tail. Deterministic via the
    // (nll NULLS FIRST, doc_id) window order shared with the oracle.
    "q_ccnet_buckets" -> ((s, d) => {
      LangModel.ccnetBuckets(
        Tables.documents(s, d).select("doc_id", "lang", "text"),
        "doc_id", "text", "lang")
        .ordered("doc_id")
    }),

    // Count-min frequency sketch (q_kmv_distinct's frequency sibling):
    // portable md5 bucket hashes, so the oracle rebuilds the identical
    // (depth, bucket, cnt) table; n_exact alongside audits the CMS
    // never-undercount guarantee.
    "q_cms_freq" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      val sketch = Sketches.cmsBuild(toks, "token", depth = 4, width = 1024)
      val exact = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      exact
        .join(Sketches.cmsLookup(sketch, exact.select("token"), "token",
          depth = 4, width = 1024), Seq("token"))
        .select("token", "n_exact", "n_est")
        .orderBy(col("n_exact").desc, col("token"))
        .limit(50)
    }),

    // Product quantization: 64-dim float vectors → 4 codes against a
    // seed-sampled codebook (the vec_id % 63 == 1 vectors WITHIN THE BASE
    // ID RANGE — the id cap freezes K as a model parameter instead of a
    // function of corpus size, so the K≤256 byte-code guard can never
    // fire on scaled-up harness data; a real deployment likewise trains
    // its codebook on a bounded sample, not on every vector), with the
    // DECIMAL-exact reconstruction-error sum. Codes serialize to a string
    // (nested arrays aren't driver-hashable).
    "q_embed_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = pqCodebook(e)
      Embeddings.pqEncode(e, cb, mSubspaces = 4, "vec_id", "embedding")
        .select(col("vec_id"),
          array_join(col("codes"), " ").as("codes_str"), col("err"))
        .ordered("vec_id")
    }),

    // Tokenizer fertility per language — subwords per word under a merge
    // list: THE multilingual-equity metric for a tokenizer (a vocab
    // trained on English costs other languages more tokens per word).
    // DECIMAL-exact ratio, grouped from q_bpe_segment's machinery.
    "q_tokenizer_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val seg = Bpe.segment(docs, "doc_id", "text", bpeMerges)
        .join(docs.select(col("doc_id"), col("lang"),
          size(filter(TextOps.tokens(col("text")),
            w => length(w) > 0)).as("n_words")), Seq("doc_id"))
      seg.groupBy("lang")
        .agg(sum(col("n_subwords").cast(LongType)).as("subwords"),
          sum(col("n_words").cast(LongType)).as("words"),
          round(sum(col("n_subwords").cast(LongType)).cast(DoubleType) /
            sum(col("n_words").cast(LongType)), 6).as("fertility"))
        .ordered("lang")
    }),

    // Round-5 pipeline composition: NFC normalize → corpus-LM CCNet gate
    // (keep head+middle per language) → exact dedup → epoch shuffle →
    // pack in TRAINING order. One declarative plan; the epoch window's
    // shard partitioning is reused by the packing window (sort, no second
    // exchange) — the plan a per-shard 100 TB preparation run wants.
    "q_corpus_pipeline2" -> ((s, d) => {
      val norm = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        graft.functions.TextNormalize.nfcNormalize(col("text")).as("text"))
      val buckets = LangModel.ccnetBuckets(norm, "doc_id", "text", "lang")
        .filter(col("bucket") <= 2) // CCNet keeps head + middle
        .select("doc_id", "nll", "ccnet_bucket")
      val gated = norm.join(buckets, Seq("doc_id"))
      val uniq = TextOps.exactDedup(gated, "doc_id", "text")
        .filter(!col("is_dup"))
      val shuffled = Sampling.epochShuffle(uniq, "doc_id", epoch = 1, nShards = 8)
      Packing.packChunks(
        shuffled.withColumn("n_tokens",
          size(TextOps.tokens(col("text"))).cast(LongType)),
        "pos", "n_tokens", "shard", contextLen = 256)
        .select(col("doc_id"), col("lang"), col("ccnet_bucket"), col("nll"),
          col("shard"), col("pos"), col("n_tokens"), col("tok_start"),
          col("first_chunk"), col("n_chunks"))
        .ordered("doc_id")
    }),

    // Unicode NFC normalization (native StaticInvoke expression, SQL name
    // nfc_normalize): the corpus is ASCII, so a decomposed suffix
    // (e+U+0301, o+U+0308) is grafted on — the oracle's utf8proc NFC must
    // byte-match the JDK's on the composed result.
    "q_nfc_normalize" -> ((s, d) => {
      val dirty = concat(col("text"), lit(" Cafe\u0301 no\u0308el"))
      Tables.documents(s, d).select(col("doc_id"),
        graft.functions.TextNormalize.nfcNormalize(dirty).as("nfc_text"),
        length(dirty).as("n_raw"),
        length(graft.functions.TextNormalize.nfcNormalize(dirty)).as("n_nfc"))
        .ordered("doc_id")
    }),

    // Hard negatives: most-similar different-label vectors per query —
    // the contrastive-training mining pass (exact labeled baseline).
    "q_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") % 97 === 5), k = 5)
        .ordered("q_id", "rank")
    }),

    // PQ search (ADC): exact queries against the coded corpus — M table
    // lookups + a DECIMAL sum per (query, vector); the corpus scan never
    // touches float vectors. The query set is capped WITHIN THE BASE ID
    // RANGE like the codebook seeds: |Q| is a frozen workload parameter,
    // so this |Q|·|C| exactness baseline grows linearly with the corpus
    // instead of quadratically (its baseline role — exact ADC against
    // every coded vector — is unchanged).
    "q_embed_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = pqCodebook(e)
      val codes = Embeddings.pqEncode(e, cb, mSubspaces = 4, "vec_id", "embedding")
      Embeddings.pqTopK(codes, cb,
        e.filter(col("vec_id") % 97 === 5 && col("vec_id") < 100000000L),
        k = 10, mSubspaces = 4, "vec_id", "embedding")
        .ordered("q_id", "rank")
    }),

    // IVF + PQ (IVFADC): queries probe their 2 nearest centroids' bucket
    // lists, candidates within are scored by ADC table lookups over the
    // PQ codes — the bucket dial prunes the search space, the code dial
    // prunes the bytes; no corpus float vector is read during the scan.
    "q_embed_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = pqCodebook(e)
      Embeddings.ivfPqTopK(e, e.filter(col("vec_id") % 10 === 3), cb,
        e.filter(col("vec_id") % 97 === 5), k = 10, nprobe = 2, mSubspaces = 4,
        "vec_id", "embedding")
        .ordered("q_id", "rank")
    }),

    // Model-based quality gate: fasttext-style linear classifier inference
    // — hashed unigram+bigram features × a broadcast weight vector. The
    // weight for feature f is the closed form ((f·31+7) mod 1001 − 500)/1000
    // so the oracle reconstructs the identical model; contributions are
    // integer-exact in milli-units (no libm in either engine).
    "q_classifier_score" -> ((s, d) => {
      Classifier.linearScore(Tables.documents(s, d), classifierWeights(s),
        "doc_id", "text", ClassifierFeatures)
        .ordered("doc_id")
    }),

    // Per-domain cap: keep at most 50 docs per source, longest first —
    // the anti-domination retention rule, with audit columns.
    "q_domain_cap" -> ((s, d) => {
      Sampling.domainCap(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "doc_id", "source", cap = 50, rankBy = Seq(col("n_chars").desc))
        .select(col("doc_id"), col("source"), col("domain_rank"), col("kept"))
        .ordered("doc_id")
    }),

    // Round-6 composition: model gate → exact dedup → per-domain cap
    // (most-trusted-by-score retention) → epoch shuffle, one declarative
    // plan — the curation chain a production corpus build runs nightly.
    "q_corpus_pipeline3" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val scored = Classifier.linearScore(docs, classifierWeights(s), "doc_id", "text",
        ClassifierFeatures)
        .filter(col("keep"))
        .select("doc_id", "score")
      val gated = docs.join(scored, Seq("doc_id"))
      val uniq = TextOps.exactDedup(gated, "doc_id", "text")
        .filter(!col("is_dup"))
        .select("doc_id", "source", "score")
      val capped = Sampling.domainCap(uniq, "doc_id", "source", cap = 40,
        rankBy = Seq(col("score").desc))
        .filter(col("kept"))
      Sampling.epochShuffle(capped, "doc_id", epoch = 1, nShards = 8)
        .select(col("doc_id"), col("source"), col("score"), col("domain_rank"),
          col("shard"), col("pos"))
        .ordered("doc_id")
    }),

    // Deterministic sharded epoch shuffle: the same corpus under epochs 1
    // and 2 yields two unrelated (shard, pos) permutations, each a pure
    // function of (epoch, doc_id) — no RNG, retry- and resume-stable.
    "q_epoch_shuffle" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id")
      val e1 = Sampling.epochShuffle(docs, "doc_id", epoch = 1, nShards = 8)
        .withColumn("epoch", lit(1))
      val e2 = Sampling.epochShuffle(docs, "doc_id", epoch = 2, nShards = 8)
        .withColumn("epoch", lit(2))
      e1.unionByName(e2).select("doc_id", "epoch", "shard", "pos")
        .ordered("epoch", "doc_id")
    }),

    // BPE application with the Sennrich worked-example merge list as fixed
    // literals — the learning loop (iterative argmax) is BpeSpec-gated;
    // application is the SQL-expressible half, and greedy-leftmost merging
    // is reproduced in the oracle by chained replace() over a
    // US-delimited symbol string.
    "q_bpe_segment" -> ((s, d) => {
      Bpe.segment(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text", bpeMerges)
        .select(col("doc_id"),
          array_join(col("subwords"), " ").as("subwords_str"),
          col("n_subwords"))
        .ordered("doc_id")
    }),

    // Incremental (delta-vs-corpus) near-dedup against a persisted MinHash
    // index — the daily-ingest shape: the corpus (doc_id % 3 ≠ 0) is
    // indexed once, the delta (doc_id % 3 = 0, plus exact copies of every
    // 7th doc under +10000) probes it without a corpus rescan. Copies have
    // J = 1 (LSH recall exactly 1) and the generator's planted dups sit at
    // J ≥ 0.8 (miss P < 1e-10 at threshold 0.7 — see q_dedup_minhash), so
    // the exact-oracle compare is deterministic.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val delta = ingestDelta(docs)
      // cache(): stands in for the persisted parquet index — the probe
      // reads it twice (band scan + verify-by-id), and an unfenced inline
      // build would re-run the corpus signature pipeline per consumer.
      val index = ownedCache(
        NearDup.buildMinHashIndex(corpus, "doc_id", "text"), "minhash-inc")
      NearDup.incrementalMinHashDedup(index, delta, "doc_id", "text", threshold = 0.7)
        .ordered("id")
    }),

    // The MinHash index under the LSM upsert/delete contract
    // (StreamingDedupIndex, batch-composed): the corpus is indexed at
    // batch 0, every %23 corpus doc is re-sent with appended text at
    // batch 1 (latest version wins — its signatures are rebuilt), every
    // %31 corpus doc is deleted at batch 2 (stops claiming dup_of
    // verdicts). The same delta as q_dedup_incremental then probes the
    // LIVE view and must equal exact-Jaccard dedup against the surviving
    // latest-version corpus (the oracle).
    "q_dedup_index_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (b0, b1, b2) = textHistory(docs.filter(col("doc_id") % 3 =!= 0))
      val seg0 = NearDup.buildMinHashIndex(b0, "doc_id", "text")
        .withColumn("batch", lit(0L))
      val seg1 = NearDup.buildMinHashIndex(b1, "doc_id", "text")
        .withColumn("batch", lit(1L))
      val dels = b2.select(col("doc_id").as("id"), lit(2L).as("batch"))
      // cache(): the live view stands in for the persisted index — the
      // probe reads it twice (band scan + verify-by-id)
      val live = ownedCache(
        SegmentStore.liveRows(seg0.unionByName(seg1), dels, "id")
          .drop("batch"), "dedup-upsert-live")
      val delta = ingestDelta(docs)
      NearDup.incrementalMinHashDedup(live, delta, "doc_id", "text", threshold = 0.7)
        .ordered("id")
    }),

    // Pinned dedup verdicts on the REAL signature store: the pin lands
    // between an update batch and a delete batch (which tips compaction,
    // physically dropping the pinned generation from the live manifest),
    // and the pinned probe must keep claiming dup_of verdicts from the
    // deleted documents while the live probe has stopped — completing the
    // pin surface across all four maintained index families, so a
    // reproducible run gets its dedup/decontam decisions as-of the SAME
    // snapshot its retrieval indexes are pinned to. Exact delta copies of
    // docs that are both %7-copied and %31-deleted are J = 1 matches that
    // exist only in the pinned view, forcing the two views to disagree.
    // Store reused via the same content-stamp rule as q_bm25_pinned.
    "q_dedup_pinned" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (b0, b1, b2) = textHistory(docs.filter(col("doc_id") % 3 =!= 0))
      // r1: b0 corpus, b1 %23 '+refreshed v2', pin asof1, b2 %31 deleted,
      // compactSegments 3 — bump the token when any of that changes
      val idx = pinnedScratch("graft-q-dedup-pinned", "r1", tableStamp(d, "documents"),
        b0.withColumn("op", lit("u")), b1.withColumn("op", lit("u")),
        b2.withColumn("op", lit("d")))((b, n, p) =>
        StreamingDedupIndex.processBatch(b, n, p, opCol = Some("op"), compactSegments = 3))
      val delta = ingestDelta(docs)
      val pinned = StreamingDedupIndex
        .probePinned(s, idx, "asof1", delta, "doc_id", "text", threshold = 0.7)
        .withColumn("vw", lit("pinned"))
      val live = StreamingDedupIndex
        .probe(s, idx, delta, "doc_id", "text", threshold = 0.7)
        .withColumn("vw", lit("live"))
      pinned.unionByName(live).ordered("vw", "id")
    }),

    // The IVF embedding index under the LSM upsert/delete contract
    // (StreamingAnnIndex, batch-composed): the corpus is assigned at
    // batch 0 against frozen centroids (%10=3), every %17 vector is
    // re-sent REVERSED at batch 1 (direction changes → it re-buckets from
    // its new values), every %13 vector is deleted at batch 2. External
    // query vectors (label 0, original values) probe the live view and
    // must equal an IVF probe of the surviving latest-version corpus.
    "q_ann_index_upsert" -> ((s, d) => {
      val e = doubleEmbeddings(s, d, "label")
      val centroids = e.filter(col("vec_id") % 10 === 3).select("vec_id", "embedding")
      val seg0 = Similarity.assignBuckets(e.select("vec_id", "embedding"), centroids)
        .withColumn("batch", lit(0L))
      val seg1 = Similarity.assignBuckets(
        e.filter(col("vec_id") % 17 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")), centroids)
        .withColumn("batch", lit(1L))
      val dels = e.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id"), lit(2L).as("batch"))
      val queries = e.filter(col("label") === 0).select("vec_id", "embedding")
      // cache = the streaming contract's materialized segment files (the
      // r11 owned-cache wave missed this query). Measured NEUTRAL at sf1
      // (12.7 vs 13.1 s isolated min-of-3): the probe's second segment
      // read (the versions pass) column-prunes the quadratic assignment
      // expressions away, so only one unpruned build runs either way —
      // the fence is kept for sibling consistency and as insurance
      // against a future plan shape that stops pruning.
      val segs = ownedCache(seg0.unionByName(seg1), "ann-upsert")
      StreamingAnnIndex.ivfTopKLive(
        segs, dels, centroids, queries, k = 3, nprobe = 1)
        .ordered("q_id", "rank")
    }),

    // Reproducible-corpus pins on the REAL LSM store (not a union
    // stand-in): three committed batches build the IVF index on disk in a
    // wiped scratch dir — all vectors at batch 0, %17 re-sent REVERSED at
    // batch 1, then a pin taken, then %13 DELETED at batch 2 (which tips
    // threshold compaction, physically dropping the pinned generation
    // from the live manifest). The pinned probe must answer with the
    // exact as-of-batch-1 state (reversals yes, deletes no) while the
    // live probe answers from the final state — both graded against an
    // oracle recomputing latest-wins as-of each view. The store is built
    // through `scratchStore` (content-stamped, recipe-tokened, file-locked
    // reuse): the builds are a pure function of the input table, so reuse
    // is bit-identical, and repeated evaluations time the PROBES — the
    // files are state a deployment's maintenance stream already wrote
    // (the inline-index cache adjudication, SCALING.md round 9).
    "q_index_pinned" -> ((s, d) => {
      val e = doubleEmbeddings(s, d, "label")
      val centroids = e.filter(col("vec_id") % 10 === 3).select("vec_id", "embedding")
      val queries = e.filter(col("label") === 0).select("vec_id", "embedding")
      // r1: b0 all, b1 %17 reversed, pin asof1, b2 %13 deleted, K=%10,
      // compactSegments 3 — bump the token when any of that changes
      val idx = pinnedScratch("graft-q-index-pinned", "r1", tableStamp(d, "embeddings"),
        e.select(col("vec_id"), col("embedding"), lit("u").as("op")),
        e.filter(col("vec_id") % 17 === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"), lit("u").as("op")),
        e.filter(col("vec_id") % 13 === 0)
          .select(col("vec_id"), col("embedding"), lit("d").as("op")),
        pin = StreamingAnnIndex.pinIndex(_, "asof1"))((b, n, p) =>
        StreamingAnnIndex.processBatch(b, n, p, centroids, opCol = Some("op"),
          compactSegments = 3))
      val pinned = StreamingAnnIndex
        .ivfTopKPinned(s, idx, "asof1", queries, k = 3, nprobe = 1)
        .withColumn("vw", lit("pinned"))
      val live = StreamingAnnIndex
        .ivfTopKLive(s, idx, queries, k = 3, nprobe = 1)
        .withColumn("vw", lit("live"))
      pinned.unionByName(live).ordered("vw", "q_id", "rank")
    }),

    // SemDeDup (cluster-then-prune semantic dedup): nearest-centroid
    // assignment + within-cluster cosine pruning, smallest id survives.
    // Direction-identical scaled copies (injected, cos = 1.0) are the
    // duplicates; the corpus's own max pairwise cosine is 0.51, far from
    // the 0.99 gate, so the verdict is deterministic.
    "q_semdedup" -> ((s, d) => {
      val e = doubleEmbeddings(s, d)
      Similarity.semDedup(withScaledCopies(e),
        e.filter(col("vec_id") % 10 === 3), threshold = 0.99)
        .ordered("vec_id")
    }),

    // Source-overlap audit matrix: ordered-pair n-gram containment across
    // the corpus's 20 sources, zero-filled (disjointness is the audit's
    // positive finding). Exact counts — deterministic on any engine.
    "q_source_overlap" -> ((s, d) => {
      TextOps.sourceOverlap(Tables.documents(s, d), "source", "text")
        .ordered("src_a", "src_b")
    }),

    // Round-6 composition #4 — the INGEST-DAY pipeline: an arriving delta
    // (doc_id % 3 = 0, plus exact copies of every 7th doc) is line-deduped
    // (boilerplate stripped), probed against the persisted MinHash index
    // of the standing corpus (doc_id % 3 ≠ 0) WITHOUT a corpus rescan,
    // and survivors are quality-scored for admission. One declarative
    // plan: the index side streams through broadcast joins; only
    // delta-sized state shuffles. The one delta doc that keeps the
    // boilerplate line still matches its corpus counterpart: its Jaccard
    // stays ≈ (n-3)/(n+3) ≥ 0.9 (3 boundary shingles of ~100), where LSH
    // miss probability is < 1e-17.
    "q_corpus_pipeline4" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
      val delta0 = ingestDelta(docs.select(col("doc_id"), threeLines.as("text")))
      // cache(): `cleaned` is referenced three times (the delta index
      // build, the verdict's id frame, the quality pass) and each
      // reference re-ran the whole line-dedup chain (the
      // q_corpus_pipeline5 gate pattern); the delta is churn-sized by
      // contract, so the fence is small
      val cleaned = TextOps.dedupLines(delta0, "doc_id", "text").cache()
      val index = ownedCache(
        NearDup.buildMinHashIndex(corpus, "doc_id", "text"), "pipeline4-index")
      val verdict = NearDup.incrementalMinHashDedup(index,
        cleaned.select(col("id").as("doc_id"), col("text")),
        "doc_id", "text", threshold = 0.7)
      val admitted = TextOps.qualityScore(
        cleaned.select(col("id"), col("text"), col("n_removed")), "text")
      admitted.join(verdict, admitted("id") === verdict("id"))
        .select(admitted("id"), col("n_removed"), col("dup_of"), col("is_new"),
          round(col("quality"), 6).as("quality6"))
        .ordered("id")
    }),

    // C4-style global line dedup. The corpus is single-line, so 3-line docs
    // are built deterministically: a boilerplate line shared by ALL docs
    // (one global survivor), the unique body, and a per-language tag line
    // (one survivor per language) — the boilerplate-stripping shape.
    "q_line_dedup" -> ((s, d) => {
      TextOps.dedupLines(
        Tables.documents(s, d).select(col("doc_id"), threeLines.as("text")),
        "doc_id", "text")
        .ordered("id")
    }),

    // Corpus drift audit: per-source quality profile (token/quality
    // moments) judged against the whole-corpus baseline — mean shift in
    // units of baseline sd, the CorpusMonitor arithmetic over a static
    // table. One partial-aggregated pass + a 1-row broadcast baseline.
    "q_corpus_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("source", "text")
      CorpusMonitor.drift(
        CorpusMonitor.profile(docs, "text", groupBy = Seq("source")),
        CorpusMonitor.profile(docs, "text"), z = 2.0)
        .ordered("source")
    }),

    // Sliding-window chunking: every document explodes into overlapping
    // 32-token windows at stride 16 (the HF convention: the last window
    // always reaches the tail). One narrow map-only pass — no shuffle.
    "q_chunking" -> ((s, d) => {
      Chunking.chunkDocuments(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text", window = 32, stride = 16)
        .ordered("doc_id", "chunk_id")
    }),

    // Chunk-level exact dedup rolled up to documents: a 16-token
    // boilerplate banner is prepended to EVERY document, so each doc's
    // first chunk is corpus-wide identical — only one copy survives and
    // every doc's kept_frac reflects it. Chunk text never shuffles, only
    // its 128-bit fingerprint.
    "q_chunk_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), concat_ws(" ", lit(Banner), col("text")).as("text"))
      Chunking.chunkDedupStats(docs, "doc_id", "text", window = 16, stride = 8)
        .ordered("doc_id")
    }),

    // Chunk-granular retrieval: BM25 over 32/16 chunks (each chunk a
    // retrieval unit keyed by doc_id·2²⁰+chunk_id), top-20 chunks per
    // probe, then documents re-rank as their best chunk — the passage-
    // retrieval shape where a long document must not dilute its best
    // passage's score.
    "q_chunk_retrieval" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val chunks = Chunking.chunkDocuments(docs, "doc_id", "text",
        window = 32, stride = 16)
        .select(Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"),
          col("chunk"))
      val probes = probeTerms(docs, 101, 5, 4)
      val chunkHits = Retrieval.bm25TopK(chunks, "ck", "chunk",
        probes, "q_id", "term", k = 20)
      Chunking.chunkHitsToDocs(chunkHits, k = 5)
        .ordered("q_id", "rank")
    }),

    // Chunk-granular retrieval over a LIVE upsert/delete index
    // (StreamingChunkIndex's contract, batch-composed): batch 0 indexes
    // the chunked corpus, batch 1 re-sends every %23 doc TRUNCATED to 40
    // tokens — it chunks into fewer windows, and doc-level latest-wins
    // liveness must kill the old tail chunks (a chunk-keyed contract
    // would leave them as phantom passages) — batch 2 deletes every %31
    // doc. Must equal chunk retrieval over the surviving corpus.
    "q_chunk_index_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val seg0 = StreamingChunkIndex.buildChunkSegment(docs, "doc_id", "text",
        window = 32, stride = 16).withColumn("batch", lit(0L))
      val seg1 = StreamingChunkIndex.buildChunkSegment(truncated(docs),
        "doc_id", "text", window = 32, stride = 16).withColumn("batch", lit(1L))
      val dels = docs.filter(col("doc_id") % DeleteMod === 0)
        .select(col("doc_id"), lit(2L).as("batch"))
      val probes = probeTerms(docs, 97, 5, 4)
      // the index is a MATERIALIZED artifact in the streaming contract
      // (segments on disk; probes re-scan files, not the build plan) —
      // the cache stands in for that materialization so the stats and
      // candidate passes don't each re-run the postings build
      val segs = ownedCache(seg0.unionByName(seg1), "chunk-upsert",
        fanout = true)
      StreamingChunkIndex.chunkTopKLiveDocs(segs, dels,
        probes, "q_id", "term", kChunks = 20, kDocs = 5)
        .ordered("q_id", "rank")
    }),

    // The round-10 capstone: chunk-granular HYBRID retrieval over two
    // LIVE indexes of the same mutating corpus — chunk BM25 postings and
    // chunk-embedding IVF assignments, both under doc-level liveness
    // (batch 1 truncates every %23 doc to 40 tokens: FEWER chunks, and
    // the stale tail must die in BOTH modalities; batch 2 deletes every
    // %31 doc). Lexical and semantic top-20 chunk lists fuse by
    // reciprocal rank WHILE STILL PASSAGES, and only the fused ranking
    // rolls up to documents — a doc whose same passage wins both lists
    // beats one ranking on two different passages' weak evidence. Chunk
    // embeddings derive deterministically from the doc embedding rotated
    // by chunk_id (the stand-in for a passage embedder — reproducible in
    // plain SQL, geometry preserved).
    "q_chunk_fused" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val b1 = truncated(docs)
      val dels = docs.filter(col("doc_id") % DeleteMod === 0)
        .select(col("doc_id"), lit(2L).as("batch"))

      val lseg0 = StreamingChunkIndex.buildChunkSegment(docs, "doc_id", "text",
        window = 32, stride = 16).withColumn("batch", lit(0L))
      val lseg1 = StreamingChunkIndex.buildChunkSegment(b1, "doc_id", "text",
        window = 32, stride = 16).withColumn("batch", lit(1L))

      val e = doubleEmbeddings(s, d)
      // centroid count capped WITHIN THE BASE ID RANGE: K is a frozen
      // model parameter, not a function of corpus size (the q_embed_pq
      // codebook rule) — uncapped, the |batch|×K assignment and the
      // |queries|×K routing grew quadratically on scaled-up harness data
      val centroids = e.filter(col("vec_id") % 10 === 3 &&
        col("vec_id") < 100000000L)
      def chunkVecs(dd: DataFrame) =
        Chunking.chunkDocuments(dd, "doc_id", "text", window = 32, stride = 16)
          .join(e, col("doc_id") === col("vec_id"))
          .select(Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              i => element_at(col("embedding"),
                ((i + col("chunk_id")) % size(col("embedding"))) + 1)).as("embedding"))
      val vseg0 = StreamingChunkIndex.buildChunkVecSegment(chunkVecs(docs), centroids)
        .withColumn("batch", lit(0L))
      val vseg1 = StreamingChunkIndex.buildChunkVecSegment(chunkVecs(b1), centroids)
        .withColumn("batch", lit(1L))

      // the probe workload is frozen WITH the centroid count: at fixed K
      // a bucket grows linearly with the corpus, so a corpus-tied query
      // set would turn the probe legs quadratic exactly as the uncapped K
      // turned the assignment quadratic — a probe workload is not a
      // function of corpus size (the q_embed_pq_topk |Q| rule)
      val probes = probeTerms(docs, 97, 5, 4, below = Some(100000000L))
      val vqueries = e.filter(col("vec_id") % 97 === 0 &&
        col("vec_id") < 100000000L)
      // the streaming contract's materialized segments, with an owned
      // cache lifecycle (see ownedCache — at most one generation per
      // index ever lives in the storage pool)
      StreamingChunkIndex.fusedTopKLiveDocs(
        ownedCache(lseg0.unionByName(lseg1), "fused-lex"), dels,
        ownedCache(vseg0.unionByName(vseg1), "fused-vec"), dels,
        centroids, probes, "q_id", "term", vqueries,
        kChunks = 20, kDocs = 5)
        .ordered("q_id", "rank")
    }),

    // BM25 retrieval over the inverted index: probe queries = every 97th
    // doc's first 4 distinct tokens, top-10 corpus docs per probe. The one
    // corpus-sized pass is the postings semi-join against the broadcast
    // query-token set; scores and ranking are candidate-sized.
    "q_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val probes = probeTerms(docs, 97, 1, 4)
      Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
        .ordered("q_id", "rank")
    }),

    // BM25 through the persisted-index contract (buildBm25Index →
    // bm25TopKIndexed): the corpus is tokenized exactly once at build; the
    // probe path scans the index twice (semi-join + the column-pruned
    // (doc_id, dl) stats pass) and shuffles only candidates.
    "q_bm25_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val probes = probeTerms(docs, 89, 1, 5)
      Retrieval.bm25TopKIndexed(Retrieval.buildBm25Index(docs, "doc_id", "text"),
        probes, "q_id", "term", k = 7)
        .ordered("q_id", "rank")
    }),

    // BM25 over a LIVE upsert/delete index (StreamingRetrieval's LSM
    // contract, batch-composed): batch 0 indexes the corpus, batch 1
    // re-sends every %23 doc with appended text (latest version wins),
    // batch 2 deletes every %31 doc via markers. The probe resolves
    // liveness from per-doc batch maxima + the marker table — both
    // churn-sized joins riding the candidate set — and must equal BM25
    // over the surviving latest-version corpus (the oracle).
    "q_bm25_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (b0, b1, b2) = textHistory(docs)
      val seg0 = Retrieval.buildBm25Index(b0, "doc_id", "text")
        .withColumn("batch", lit(0L))
      val seg1 = Retrieval.buildBm25Index(b1, "doc_id", "text")
        .withColumn("batch", lit(1L))
      val dels = b2.select(col("doc_id"), lit(2L).as("batch"))
      val probes = withRefreshedProbe(s, probeTerms(docs, 97, 1, 4))
      // cache = the streaming contract's materialized segment files (the
      // stats and candidate passes would otherwise each re-run the
      // inline postings builds)
      val segs = ownedCache(seg0.unionByName(seg1), "bm25-upsert")
      StreamingRetrieval.bm25TopKLive(segs, dels,
        probes, "q_id", "term", k = 10)
        .ordered("q_id", "rank")
    }),

    // Pinned BM25 on the REAL postings store: the pin lands between an
    // update batch and a delete batch that tips compaction, and the
    // pinned ranking must carry AS-OF STATISTICS (N, avgdl, idf over the
    // pinned corpus — deletes move all three in the live view), not just
    // the as-of row set. Scratch store reused via the same content-stamp
    // rule as q_index_pinned; the '-1 refreshed' probe discriminates the
    // views (updates visible in both, deletes only in live).
    "q_bm25_pinned" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (b0, b1, b2) = textHistory(docs)
      // r1: b0 all, b1 %23 '+refreshed v2', pin asof1, b2 %31 deleted,
      // compactSegments 3 — bump the token when any of that changes
      val idx = pinnedScratch("graft-q-bm25-pinned", "r1", tableStamp(d, "documents"),
        b0.withColumn("op", lit("u")), b1.withColumn("op", lit("u")),
        b2.withColumn("op", lit("d")))((b, n, p) =>
        StreamingRetrieval.processBatch(b, n, p, opCol = Some("op"), compactSegments = 3))
      val probes = withRefreshedProbe(s, probeTerms(docs, 97, 1, 4))
      val pinned = StreamingRetrieval
        .bm25TopKPinned(s, idx, "asof1", probes, "q_id", "term", k = 10)
        .withColumn("vw", lit("pinned"))
      val live = StreamingRetrieval
        .bm25TopKLive(s, idx, probes, "q_id", "term", k = 10)
        .withColumn("vw", lit("live"))
      pinned.unionByName(live).ordered("vw", "q_id", "rank")
    }),

    // Hybrid retrieval fusion: the same probe documents retrieve through
    // BOTH modalities — BM25 over their leading text terms and exact
    // cosine over their embedding — and the two top-10 lists fuse by
    // reciprocal rank (k0=60). Fusion is candidate-sized end-to-end: one
    // union of two top-k lists, one (q_id, doc_id) hash-agg, one rank
    // window per query.
    "q_retrieval_fused" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val probes = probeTerms(docs, 97, 1, 4)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 10)
      val e = Tables.embeddings(s, d)
      val sem = Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 97 === 0), k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      Retrieval.rrfFuse(Seq(lex, sem), k = 10)
        .ordered("q_id", "rank")
    }),

    // The round-8 capstone: hybrid RRF retrieval over TWO LIVE indexes of
    // the SAME mutating corpus — the %23 docs are updated in batch 1
    // (text appended, embedding reversed), the %31 docs deleted in batch
    // 2, and the same probe documents (%97) retrieve lexically through
    // the live BM25 segments and semantically through the live IVF
    // segments; the fused ranking must equal RRF over fresh probes of the
    // surviving latest-version corpus. Every stage is the LSM liveness
    // contract + candidate-sized fusion.
    "q_live_fused" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val (b0, b1, b2) = textHistory(docs)
      val seg0 = Retrieval.buildBm25Index(b0, "doc_id", "text")
        .withColumn("batch", lit(0L))
      val seg1 = Retrieval.buildBm25Index(b1, "doc_id", "text")
        .withColumn("batch", lit(1L))
      val delsT = b2.select(col("doc_id"), lit(2L).as("batch"))
      val probes = probeTerms(docs, 97, 1, 4)
      // NOT ownedCache'd like q_bm25_upsert's segs: measured r13 (min of 3
      // JVM runs, buddy-normalized against q_retrieval_fused) — caching both
      // legs read 6.45s vs 5.34s uncached; the columnar cache write of the
      // wide vec rows costs more than the recomputation it saves here
      val lex = StreamingRetrieval.bm25TopKLive(seg0.unionByName(seg1), delsT,
        probes, "q_id", "term", k = 10)

      val e = doubleEmbeddings(s, d)
      val centroids = e.filter(col("vec_id") % 10 === 3)
      val aseg0 = Similarity.assignBuckets(e, centroids).withColumn("batch", lit(0L))
      val aseg1 = Similarity.assignBuckets(
        e.filter(col("vec_id") % RefreshMod === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        centroids).withColumn("batch", lit(1L))
      val delsE = e.filter(col("vec_id") % DeleteMod === 0)
        .select(col("vec_id"), lit(2L).as("batch"))
      val sem = graft.streaming.StreamingAnnIndex.ivfTopKLive(
        aseg0.unionByName(aseg1), delsE, centroids,
        e.filter(col("vec_id") % 97 === 0), k = 10, nprobe = 1)
        .withColumnRenamed("neighbor_id", "doc_id")

      Retrieval.rrfFuse(Seq(lex, sem), k = 10)
        .ordered("q_id", "rank")
    }),

    // Gopher-style rule gate: hard per-doc bounds from postings statistics
    // alone — one (doc, token) hash-agg + per-doc rollup, no second text
    // scan. Thresholds chosen so each rule splits this corpus.
    "q_gopher_gate" -> ((s, d) => {
      TextOps.gopherGate(Tables.documents(s, d), "doc_id", "text")
        .ordered("doc_id")
    }),

    // Retrieval-gated decontamination: the fuzzy complement to
    // q_decontaminate's exact n-gram membership — BM25 retrieves each eval
    // passage's top-5 corpus candidates (one postings pass), then ONLY the
    // retrieved candidates pay the interpreted shingle pipeline and the
    // exact 3-gram containment verify (a broadcast semi-join reduces the
    // corpus to candidate texts BEFORE any shingling — the first cut
    // shingled all 5k docs and cost 15.8 s vs ~4 s for the retrieval
    // itself). The eval×corpus overlap matrix is never built.
    "q_decontam_retrieval" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // %163 keeps the eval suite small: the synthetic 31-token vocabulary
      // has NO rare-term tail (min df = 5% of docs), so every probe term
      // matches a large corpus fraction and candidate volume scales with
      // |evals|·|corpus| — the one corpus shape where the maxDfFrac dial
      // cannot prune (all-or-nothing when every term is common; with %41
      // probes the retrieval stage alone measured 12-17 s). On a real
      // vocabulary the dial bounds candidates; here the eval-suite size
      // does. cache(): hits is tiny but feeds two consumers (candidate
      // semi-join + verify join).
      val evals = docs.filter(col("doc_id") % 163 === 0)
      val probes = probeTerms(docs, 163, 1, 6)
      val hits = ownedCache(
        Retrieval.bm25TopK(docs, "doc_id", "text", probes, "q_id", "term", k = 5),
        "decontam-hits")
      val evalG = evals.select(col("doc_id").as("q_id"),
        NearDup.shinglesFromTokens(TextOps.tokens(col("text"))).as("eg"))
      val candG = docs
        .join(broadcast(hits.select("doc_id").distinct()), Seq("doc_id"))
        .select(col("doc_id"),
          NearDup.shinglesFromTokens(TextOps.tokens(col("text"))).as("cg"))
      val he = hits.join(evalG, Seq("q_id"))
      candG.join(broadcast(he), Seq("doc_id"))
        .withColumn("overlap", round(
          size(array_intersect(col("eg"), col("cg"))).cast(DoubleType) /
            size(col("eg")), 6))
        .withColumn("contaminated", col("overlap") >= 0.5)
        .select("q_id", "doc_id", "rank", "score", "overlap", "contaminated")
        .ordered("q_id", "rank")
    }),

    // Soft-dedup weights actually consumed: the weighted hash sample keeps
    // each duplicate-cluster member with probability 1/cluster_size — hard
    // dedup in expectation, per-row filter, no shuffle past the
    // clustering. Same planted-duplicate corpus as q_dedup_clusters.
    "q_weighted_sample" -> ((s, d) => {
      val labels = clusterLabels(plantedDups(Tables.documents(s, d).select("doc_id", "text")))
      val weights = NearDup.softDedupWeights(labels)
        .select(col("id").as("doc_id"), col("cluster_root"), col("weight"))
      Sampling.weightedHashSample(weights, "doc_id", "weight")
        .ordered("doc_id")
    }),

    // Fifth end-to-end pipeline: Gopher-rule gate → near-dup clustering of
    // the survivors → soft dedup weights → per-source EFFECTIVE budget
    // (docs and tokens after down-weighting duplicates) — the mixture
    // planner's input table. All stages are this round's operators
    // composed declaratively; the rollup is one hash-agg on source.
    "q_corpus_pipeline5" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // cache(): the gate is a tiny (doc_id, n_tokens) dimension, but
      // `survivors` is referenced THREE times (the minhash input, the
      // cluster id set, the final rollup join) and each reference re-ran
      // the gate's explode + two aggregation exchanges (r14 stage profile:
      // the same ~1.6 MB token-agg shuffle written 3×). The fence makes
      // the gopher pass once-per-query, the pattern a deployment gets by
      // materializing the gate verdict next to the corpus.
      val gate = TextOps.gopherGate(docs, "doc_id", "text")
        .filter(col("pass")).select("doc_id", "n_tokens")
        .cache()
      val survivors = docs.select("doc_id", "text", "source").join(gate, Seq("doc_id"))
      val pairs = NearDup.minHashDedup(survivors.select("doc_id", "text"),
        "doc_id", "text", threshold = 0.7)
      val labels = NearDup.clusterPairs(
        survivors.select(col("doc_id").as("id")), pairs)
      val weights = NearDup.softDedupWeights(labels)
        .select(col("id").as("doc_id"), col("weight"))
      survivors.join(weights, Seq("doc_id"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          round(sum("weight"), 6).as("eff_docs"),
          sum("n_tokens").as("n_tokens"),
          round(sum(col("weight") * col("n_tokens")), 6).as("eff_tokens"))
        .ordered("source")
    }),

    // Sixth composed pipeline — gate → retrieve (both modalities) → fuse →
    // verify: the Gopher gate prunes the corpus once, each eval passage
    // retrieves top-5 candidates lexically (BM25 over the gated text) AND
    // semantically (exact cosine over the gated embeddings), the two lists
    // fuse by reciprocal rank, and ONLY the fused candidates pay the
    // 3-gram containment verify. One declarative plan; after the gate the
    // only corpus-sized work is the postings semi-join and the one
    // embedding pass — fusion and verify are candidate-sized.
    "q_corpus_pipeline6" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // cache(): the tiny gate dimension feeds BOTH retrieval legs (the
      // BM25 corpus join and the embedding semi-join) — uncached, each leg
      // re-ran the gopher explode + two exchanges (the q_corpus_pipeline5
      // pattern)
      val gate = TextOps.gopherGate(docs, "doc_id", "text")
        .filter(col("pass")).select("doc_id")
        .cache()
      val corpus = docs.select("doc_id", "text").join(gate, Seq("doc_id"))
      val evals = docs.select("doc_id", "text").filter(col("doc_id") % 163 === 0)
      val probes = probeTerms(docs.select("doc_id", "text"), 163, 1, 6)
      val lex = Retrieval.bm25TopK(corpus, "doc_id", "text", probes, "q_id", "term", k = 5)
      val emb = Tables.embeddings(s, d)
      val sem = Similarity.bruteForceTopK(
        emb.join(gate.select(col("doc_id").as("vec_id")), Seq("vec_id")),
        emb.filter(col("vec_id") % 163 === 0), k = 5)
        .withColumnRenamed("neighbor_id", "doc_id")
      // bounded by |evals|·5 per list by construction → broadcastable
      val hits = ownedCache(Retrieval.rrfFuse(Seq(lex, sem), k = 5), "pipeline6-hits")
      val evalG = evals.select(col("doc_id").as("q_id"),
        NearDup.shinglesFromTokens(TextOps.tokens(col("text"))).as("eg"))
      val candG = docs.select("doc_id", "text")
        .join(broadcast(hits.select("doc_id").distinct()), Seq("doc_id"))
        .select(col("doc_id"),
          NearDup.shinglesFromTokens(TextOps.tokens(col("text"))).as("cg"))
      val he = hits.join(evalG, Seq("q_id"))
      candG.join(broadcast(he), Seq("doc_id"))
        .withColumn("overlap", round(
          size(array_intersect(col("eg"), col("cg"))).cast(DoubleType) /
            size(col("eg")), 6))
        .withColumn("contaminated", col("overlap") >= 0.5)
        .select("q_id", "doc_id", "rank", "rrf", "overlap", "contaminated")
        .ordered("q_id", "rank")
    }),

    // Seventh composed pipeline — the CHUNK-centric curation chain:
    // boilerplate-noised corpus → chunk-dedup gate (a doc survives only if
    // ≥85% of its 16/8 chunks are corpus-wide first occurrences) →
    // chunk-granular retrieval decontam (eval probes retrieve top-3 docs
    // BY BEST PASSAGE over the gated corpus; retrieved docs are dropped) →
    // per-source token budget. After the two chunk explodes (map-only) the
    // only corpus-sized work is one fingerprint groupBy and one postings
    // semi-join; decontam and the rollup are candidate-sized.
    "q_corpus_pipeline7" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val noised = docs.select(col("doc_id"), col("source"),
        concat_ws(" ", lit(Banner), col("text")).as("text"))
      // cache(): `gated` is referenced twice (the retrieval chunking and
      // the final anti-join rollup); uncached, each reference re-ran the
      // WHOLE chunk-dedup gate — chunk explode + fingerprint groupBy +
      // doc rollup (the q_corpus_pipeline5 gate pattern, here with the
      // priciest gate of the family). The fence holds only the tiny
      // surviving-doc_id dimension.
      val kept = Chunking.chunkDedupStats(noised, "doc_id", "text",
        window = 16, stride = 8)
        .filter(col("kept_frac") >= 0.85).select("doc_id")
        .cache()
      val gated = noised.join(kept, Seq("doc_id"))
      val probes = probeTerms(docs, 89, 5, 4)
      val chunks = Chunking.chunkDocuments(gated, "doc_id", "text",
        window = 32, stride = 16)
        .select(Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"),
          col("chunk"))
      val contaminated = Chunking.chunkHitsToDocs(
        Retrieval.bm25TopK(chunks, "ck", "chunk", probes, "q_id", "term", k = 20),
        k = 3).select("doc_id").distinct()
      gated.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast(LongType))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .ordered("source")
    }),

    // Soft dedup: q_dedup_clusters' planted-duplicate corpus, but members
    // are kept and down-weighted 1/cluster_size instead of dropped — one
    // count window over the cluster label, no cluster-dimension join.
    "q_dedup_softweight" -> ((s, d) => {
      val labels = clusterLabels(plantedDups(Tables.documents(s, d).select("doc_id", "text")))
      NearDup.softDedupWeights(labels)
        .select(col("id").as("doc_id"), col("cluster_root"),
          col("cluster_size"), col("weight"))
        .ordered("doc_id")
    })
  )

  // Fixture recipes shared by the queries and their oracles. The text
  // upsert history: batch 1 re-sends every RefreshMod-th doc with
  // RefreshSuffix appended, batch 2 deletes every DeleteMod-th doc.
  private final val RefreshMod = 23
  private final val RefreshSuffix = " refreshed v2"
  private final val DeleteMod = 31
  /** The boilerplate banner the chunk-dedup fixtures prepend to every doc. */
  private final val Banner = "please subscribe to our newsletter for the very latest updates and exclusive offers every single week"
  private final val ClassifierFeatures = 4096

  /** Probe queries: every `mod`-th doc's distinct tokens `from` ..
    * `from + n - 1`, one (q_id, term) row each; `below` caps the doc ids.
    */
  private def probeTerms(docs: DataFrame, mod: Int, from: Int, n: Int,
                         below: Option[Long] = None): DataFrame = {
    val keep = col("doc_id") % mod === 0
    docs.filter(below.fold(keep)(b => keep && col("doc_id") < b))
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), from, n))).as("term"))
  }

  /** `probes` plus (-1, "refreshed"), a probe only batch 1's text matches. */
  private def withRefreshedProbe(s: SparkSession, probes: DataFrame): DataFrame = {
    import s.implicits._
    probes.unionByName(Seq((-1L, "refreshed")).toDF("q_id", "term"))
  }

  /** The text upsert history of `docs`: batch 0 all of them, batch 1 the
    * `%RefreshMod` docs with RefreshSuffix appended, batch 2 the
    * `%DeleteMod` docs (deleted).
    */
  private def textHistory(docs: DataFrame): (DataFrame, DataFrame, DataFrame) =
    (docs,
      docs.filter(col("doc_id") % RefreshMod === 0)
        .withColumn("text", concat(col("text"), lit(RefreshSuffix))),
      docs.filter(col("doc_id") % DeleteMod === 0))

  /** Batch 1 of the chunk upsert history: the `%RefreshMod` docs cut to
    * their first 40 tokens (fewer chunks than batch 0 gave them).
    */
  private def truncated(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % RefreshMod === 0)
      .select(col("doc_id"), array_join(slice(split(col("text"), " "), 1, 40), " ").as("text"))

  /** The ingest-day delta: the `%3` docs plus exact copies of every
    * `%7 == 1` doc under id + 10000 (the rest is the standing corpus).
    */
  private def ingestDelta(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))

  /** The planted-duplicate corpus: `docs` plus exact copies of every
    * `%20` doc under id + 10000 and id + 20000.
    */
  private def plantedDups(docs: DataFrame): DataFrame = {
    val copies = docs.filter(col("doc_id") % 20 === 0)
    docs
      .unionByName(copies.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(copies.select((col("doc_id") + 20000).as("doc_id"), col("text")))
  }

  /** Near-dup cluster labels (id, cluster_root, ...) of `corpus`'s docs:
    * MinHash pairs at Jaccard 0.7, then connected components.
    */
  private def clusterLabels(corpus: DataFrame): DataFrame = {
    val pairs = NearDup.minHashDedup(corpus, "doc_id", "text", threshold = 0.7)
    NearDup.clusterPairs(corpus.select(col("doc_id").as("id")), pairs)
  }

  /** Three-line docs: a boilerplate line shared by all docs, the body,
    * and a per-language tag line.
    */
  private def threeLines: Column =
    concat_ws("\n", lit("subscribe to updates"), col("text"),
      concat(lit("lang tag "), col("lang")))

  /** `embeddings` with double vectors, plus the `extra` columns. */
  private def doubleEmbeddings(s: SparkSession, d: String, extra: String*): DataFrame =
    Tables.embeddings(s, d).select(Seq(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding")) ++ extra.map(col): _*)

  /** `e` plus direction-identical 1.5x copies of every `%10` vector under
    * id + 10000.
    */
  private def withScaledCopies(e: DataFrame): DataFrame =
    e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5)).as("embedding")))

  /** The PQ codebook: 4 subspaces seeded by the `%63 == 1` vectors of the
    * base id range.
    */
  private def pqCodebook(e: DataFrame): DataFrame =
    Embeddings.pqCodebookFromSeeds(
      e.filter(col("vec_id") % 63 === 1 && col("vec_id") < 100000000L),
      mSubspaces = 4, "vec_id", "embedding")

  /** The linear quality model: feature f weighs ((f·31+7) mod 1001 − 500)/1000. */
  private def classifierWeights(s: SparkSession): DataFrame =
    s.range(ClassifierFeatures).select(col("id").as("feature"),
      ((((col("id") * 31 + 7) % 1001) - 500).cast(DoubleType) / 1000.0)
        .as("weight"))

  /** The Sennrich worked-example merge list. */
  private def bpeMerges = Seq("e" -> "s", "es" -> "t", "est" -> Bpe.EndOfWord,
    "l" -> "o", "lo" -> "w")

  /** Fingerprint of an input table's files (sorted name:size:mtime) — a
    * scratch store keyed by it can never serve rows built from a
    * PREVIOUS generation of the test data: regenerating the parquet (even
    * bit-identically) moves the mtime, moves the stamp, and forces a
    * rebuild in a fresh dir.
    */
  private def tableStamp(d: String, table: String): String = {
    val p = java.nio.file.Paths.get(d, s"$table.parquet")
    if (!java.nio.file.Files.exists(p)) return "absent"
    val s = java.nio.file.Files.walk(p)
    val parts = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
          java.nio.file.Files.getLastModifiedTime(f).toMillis
      }.toSeq.sorted
    } finally s.close()
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Remove a scratch index dir so a query evaluation rebuilds the real
    * on-disk store from batch 0. The manifest is deleted FIRST (one
    * atomic unlink): a wipe or rebuild killed at any later point leaves a
    * store whose `ready` check fails (readManifest → lastBatch −1), so a
    * crash can never poison the reuse path with a manifest that
    * references deleted segment files.
    */
  private def wipeDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.deleteIfExists(p.resolve("_manifest"))
      SegmentStore.deleteRecursively(p)
    }

  /** Build-or-reuse guard for the REAL scratch SegmentStores the pinned
    * queries drive (`q_index_pinned`, `q_bm25_pinned`). The store lives at
    * `tmpdir/<prefix>-<recipe>-<stamp>`:
    *   - `stamp` fingerprints the input table, so regenerated test data
    *     can never be served from a previous generation's store;
    *   - `recipe` is a hand-bumped token naming the batch construction —
    *     a code change to any batch's filter/transform MUST bump it, or
    *     the ready check would reuse a store built by the old code;
    *   - the ready/build section runs under a per-prefix JVM monitor
    *     (same-process threads serialize — `FileChannel.lock` would
    *     THROW OverlappingFileLockException for them, not wait) plus an
    *     exclusive cross-process file lock (two JVMs serialize instead
    *     of racing wipe against build);
    *   - on a rebuild, only STALE-RECIPE siblings (and the half-built
    *     current dir) are wiped. Other stamps of the current recipe —
    *     other scales' stores, which a multi-scale session's lazily
    *     scanned DataFrames may still be reading — coexist; the
    *     footprint is bounded at one dir per (prefix, scale) plus at
    *     most one orphan per in-session data regeneration, and the
    *     round lifecycle clears tmp between rounds.
    */
  private val scratchMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def scratchStore(prefix: String, recipe: String, stamp: String,
                           ready: String => Boolean,
                           build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = tmp.resolve(s"$prefix-$recipe-$stamp")
    scratchMonitors.getOrElseUpdate(prefix, new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(tmp.resolve(s"$prefix.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try {
          if (!ready(dir.toString)) {
            val ls = Files.list(tmp)
            try {
              import scala.jdk.CollectionConverters._
              ls.iterator().asScala
                .filter { p =>
                  val n = p.getFileName.toString
                  n.startsWith(s"$prefix-") && !n.startsWith(s"$prefix-$recipe-")
                }
                .foreach(wipeDir)
            } finally ls.close()
            wipeDir(dir) // a half-built current dir, if any
            build(dir.toString)
          }
        } finally fl.release()
      } finally ch.close()
    }
    dir.toString
  }

  /** A pinned query's [[scratchStore]]: `process` commits batches `b0` and
    * `b1`, `pin` takes pin `asof1`, then `process` commits `b2`.
    */
  private def pinnedScratch(prefix: String, recipe: String, stamp: String,
                            b0: DataFrame, b1: DataFrame, b2: DataFrame,
                            pin: String => Unit = SegmentStore.pin(_, "asof1"))(
      process: (DataFrame, Long, String) => Unit): String =
    scratchStore(prefix, recipe, stamp,
      ready = p => SegmentStore.readManifest(p).lastBatch == 2L &&
        SegmentStore.listPins(p).contains("asof1"),
      build = p => {
        process(b0, 0L, p)
        process(b1, 1L, p)
        pin(p)
        process(b2, 2L, p)
      })

  /** [[ownedCache]]'s live generation per name. */
  private val segCaches = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Cache a per-query derived artifact (usually the stand-in for the
    * streaming contract's segment FILES, which a real deployment's
    * `processBatch` already wrote; these queries emulate the build
    * inline) — with an owned lifecycle: each evaluation unpersists
    * the previous evaluation's entry before caching its own, so the
    * session's storage pool holds at most ONE generation per index
    * (previously the entries lived until somebody called clearCache).
    * The two alternatives were measured and rejected at sf1: writing
    * real temp-dir parquet per evaluation re-pays a write a deployment
    * amortizes (min-of-3 29.8 s vs 11.2 s cached — 2.7×, measuring the
    * harness, not the probe); eager localCheckpoint frees blocks only on
    * driver GC, so repeated in-session evaluations accumulate block
    * pressure (reps climbing 31→85→92 s).
    *
    * NOT safe under concurrent evaluation of the SAME query name: the swap
    * below is atomic (so two racing evaluations can't double-unpersist or
    * leak a generation), but the PREVIOUS generation is unpersisted while a
    * concurrent scan of it may still be running — Spark recomputes, so
    * results stay correct, but that evaluation is timed partly uncached.
    * The measurement harnesses this exists for (Bench / Verify / the driver
    * sweep) evaluate queries strictly sequentially, which is the supported
    * mode; concurrent callers get correctness, not stable timings.
    *
    * @param fanout repartition to numShufflePartitions BEFORE caching.
    *   The segment builds end in aggregations whose post-shuffle reads AQE
    *   coalesces by BYTES (these corpora are MBs), so the InMemoryRelation
    *   otherwise holds ~4 partitions and every probe pass over the cached
    *   index runs 4-wide on a 32-core host (stage profile r14: the chunk
    *   probe's CPU-dense stages sat at 2-4 tasks); segment FILES — the
    *   artifact this cache stands in for — would be read with input-split
    *   parallelism. OPT-IN because it pays a full extra shuffle on the
    *   materialization path: measured a consistent win only where the
    *   per-cached-row downstream work is CPU-dense (q_chunk_index_upsert
    *   6.37/5.64 -> 5.43/5.11 s in both interleaved A/B rounds), and a
    *   REGRESSION on small caches with cheap narrow scans (mid-round r14
    *   sweep with fanout applied blanket: q_dedup_index_upsert 1.33x,
    *   q_ann_index_upsert 1.15x, q_winnow_pairs 1.12x against a 0.87x
    *   host-health median — all reverted to the plain cache).
    */
  private def ownedCache(df: DataFrame, name: String,
                         fanout: Boolean = false): DataFrame =
    segCaches.synchronized {
      segCaches.remove(name).foreach(_.unpersist())
      val base =
        if (fanout)
          df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
        else df
      val cached = base.cache()
      segCaches.put(name, cached)
      cached
    }

  /** DuckDB cosine matching the Spark arithmetic: double-cast vectors,
    * elementwise product, sum, dot/sqrt(na*nb), round 6 — INCLUDING the
    * zero-norm branch: `Similarity.pairCos` returns the below-range
    * sentinel [[Similarity.UndefinedCos]] (−2.0) when either operand has
    * no direction, so the oracle pins the same value instead of the
    * NULL/inf DuckDB's raw division would yield. For non-zero norms the
    * THEN branch is the pre-guard expression verbatim, so every oracle
    * result on well-formed data is bit-identical.
    */
  private def cosSql(a: String, b: String) = {
    def n2(x: String) =
      s"list_sum(list_transform(range(1, len($x)+1), i -> $x[i]*$x[i]))"
    s"""CASE WHEN ${n2(a)} * ${n2(b)} > 0
      | THEN round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) /
      |   (sqrt(${n2(a)}) * sqrt(${n2(b)})), 6)
      | ELSE ${Similarity.UndefinedCos} END""".stripMargin
  }

  /** CTE `name` (`id`, `out`): the distinct `k`-word shingles (runs of k
    * consecutive space-split tokens of its `text`) of each row of `src`.
    */
  private def shinglesSql(name: String, src: String, k: Int = 3, id: String = "doc_id",
                          out: String = "shingles") = {
    val run = (0 until k).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""$name AS (
      | SELECT $id, list_distinct(list_transform(generate_series(1, len(toks)-${k - 1}),
      |     i -> $run)) AS $out
      | FROM (SELECT $id, string_split(text, ' ') AS toks FROM $src))""".stripMargin
  }

  /** Jaccard similarity of two shingle lists. */
  private def jacSql(a: String, b: String) =
    s"""CAST(len(list_intersect($a, $b)) AS DOUBLE)
      |    / len(list_distinct(list_concat($a, $b)))""".stripMargin

  /** CTE `pairs` (a_id, b_id, jac): the doc pairs of shingle CTE `sh` at
    * Jaccard >= `threshold`, a_id < b_id.
    */
  private def pairsSql(threshold: Double) =
    s"""pairs AS (
      | SELECT a_id, b_id, jac FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |   ${jacSql("a.shingles", "b.shingles")} AS jac
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      | WHERE jac >= $threshold)""".stripMargin

  private def allPairsJaccardSql(threshold: Double) =
    s"""WITH ${shinglesSql("sh", "documents")},
      |${pairsSql(threshold)}
      |SELECT a_id, b_id, jac FROM pairs ORDER BY a_id, b_id""".stripMargin

  /** Exact near-dup clusters of `src`'s (doc_id, text) rows: the 3-shingle
    * pairs at Jaccard >= 0.7 as graph edges, and the connected components
    * as a recursive CTE (the statement needs `WITH RECURSIVE`) — CTEs `lab`
    * (id, cluster_root = the smallest id reachable) and `sizes`
    * (cluster_root, cluster_size).
    */
  private def clusterLabelsSql(src: String) =
    s"""${shinglesSql("sh", src)},
      |${pairsSql(0.7)},
      |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |          UNION ALL SELECT b_id, a_id FROM pairs),
      |r(id, root) AS (
      | SELECT doc_id, doc_id FROM $src
      | UNION
      | SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id, min(root) AS cluster_root FROM r GROUP BY id),
      |sizes AS (SELECT cluster_root, count(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  /** CTE `all_docs` (doc_id, text): the planted-duplicate corpus. */
  private val plantedDupsSql =
    """all_docs AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 10000, text FROM documents WHERE doc_id % 20 = 0
      | UNION ALL
      | SELECT doc_id + 20000, text FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  /** CTE `name` (doc_id, `text`): the ingest-day delta. */
  private def ingestDeltaSql(name: String, text: String = "text") =
    s"""$name AS (
      | SELECT doc_id, $text FROM documents WHERE doc_id % 3 = 0
      | UNION ALL
      | SELECT doc_id + 10000 AS doc_id, $text FROM documents WHERE doc_id % 7 = 1)""".stripMargin

  /** CTE `best$sfx` (id, dup_of, jac): the incremental-dedup verdict of
    * each doc of shingle CTE `sh_d` (the delta) — its smallest-id match
    * at Jaccard >= 0.7 among all docs of shingle CTE `shC` (the corpus)
    * and the smaller-id delta docs.
    */
  private def bestMatchSql(sfx: String, shC: String) =
    s"""pairs$sfx AS (
      | SELECT d.doc_id AS id, o.doc_id AS other_id,
      |  ${jacSql("d.shingles", "o.shingles")} AS jac
      | FROM sh_d d CROSS JOIN $shC o
      | UNION ALL
      | SELECT d.doc_id AS id, o.doc_id AS other_id,
      |  ${jacSql("d.shingles", "o.shingles")} AS jac
      | FROM sh_d d JOIN sh_d o ON o.doc_id < d.doc_id),
      |best$sfx AS (
      | SELECT id, min(other_id) AS dup_of, arg_min(jac, other_id) AS jac
      | FROM pairs$sfx WHERE jac >= 0.7 GROUP BY id)""".stripMargin

  /** The incremental-dedup oracle of the ingest delta against the corpus
    * that CTE text `corpus` defines as `corpus` (doc_id, text).
    */
  private def incrementalDedupSql(corpus: String) =
    s"""WITH $corpus,
      |${ingestDeltaSql("delta")},
      |${shinglesSql("sh_c", "corpus")},
      |${shinglesSql("sh_d", "delta")},
      |${bestMatchSql("", "sh_c")}
      |SELECT delta.doc_id AS id, best.dup_of, best.jac,
      | best.dup_of IS NULL AS is_new
      |FROM delta LEFT JOIN best ON best.id = delta.doc_id
      |ORDER BY id""".stripMargin

  /** CTE `name` (doc_id, text): the latest version of each doc of the text
    * upsert history — `%RefreshMod` docs replaced by `refreshed`,
    * `%DeleteMod` docs dropped unless `live` is false (the view pinned
    * before the deletes); `scope` conditions restrict the corpus.
    */
  private def upsertCorpusSql(name: String, scope: Seq[String] = Nil, live: Boolean = true,
                              refreshed: String = s"text || '$RefreshSuffix'") = {
    val keep = scope ++ (if (live) Seq(s"doc_id % $DeleteMod <> 0") else Nil)
    s"""$name AS (SELECT doc_id,
      |  CASE WHEN doc_id % $RefreshMod = 0 THEN $refreshed ELSE text END AS text
      | FROM documents${if (keep.isEmpty) "" else keep.mkString(" WHERE ", " AND ", "")})""".stripMargin
  }

  /** [[upsertCorpusSql]]'s `refreshed` for the chunk history: the first 40 tokens. */
  private val truncatedSql = "array_to_string((string_split(text, ' '))[1:40], ' ')"

  /** CTE `name` (vec_id, v): CTE `base`'s vectors with every `%rev` one
    * reversed, minus the `%del` ones.
    */
  private def reversedSql(name: String, rev: Int, del: Option[Int]) =
    s"""$name AS (SELECT vec_id,
      |  CASE WHEN vec_id % $rev = 0
      |   THEN list_transform(generate_series(1, len(v)), i -> v[len(v)-i+1])
      |   ELSE v END AS v
      | FROM base${del.fold("")(m => s" WHERE vec_id % $m <> 0")})""".stripMargin

  /** CTE `cent` (centroid_id, cv): the `%10 == 3` vectors of `src` (vec_id,
    * v); `capped` keeps only the base id range.
    */
  private def centSql(src: String, capped: Boolean = false) =
    s"cent AS (SELECT vec_id AS centroid_id, v AS cv FROM $src WHERE vec_id % 10 = 3" +
      (if (capped) " AND vec_id < 100000000)" else ")")

  /** CTE `name` (`id`, v, bucket): each row of `src` (`id`, v, ...)
    * that passes `where` (over alias x), once per each of its `top`
    * nearest centroids of CTE `cent` by rounded cosine, ties to the
    * smaller centroid id.
    */
  private def nearestSql(name: String, src: String, top: Int = 1, where: String = "",
                         id: String = "vec_id") =
    s"""$name AS (SELECT $id, v, centroid_id AS bucket FROM (
      | SELECT x.*, ct.centroid_id,
      |  row_number() OVER (PARTITION BY x.$id
      |    ORDER BY ${cosSql("x.v", "ct.cv")} DESC, ct.centroid_id) AS rn
      | FROM $src x CROSS JOIN cent ct${if (where.isEmpty) "" else s" WHERE $where"})
      | WHERE rn <= $top)""".stripMargin

  /** Rows (`lead`, q_id, neighbor_id, cos): each `probes` vector against
    * the other `assign` vectors of its bucket.
    */
  private def bucketCosSql(probes: String, assign: String, lead: String = "") =
    s"""SELECT ${lead}q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |  ${cosSql("q.v", "c.v")} AS cos
      | FROM $probes q JOIN $assign c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id""".stripMargin

  /** The final top-`k` neighbors per q_id of CTE `p` (q_id, neighbor_id, cos). */
  private def cosTopKSql(k: Int) =
    s"""SELECT q_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
      | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
      | FROM p)
      |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** CTE `q` (q_id, token): the probe queries [[probeTerms]] builds. */
  private def probeTermsSql(mod: Int, from: Int, n: Int, capped: Boolean = false,
                            refreshedProbe: Boolean = false) =
    s"""q AS (SELECT doc_id AS q_id,
      |  unnest(list_distinct((string_split(text, ' '))[$from:${from + n - 1}])) AS token
      | FROM documents WHERE doc_id % $mod = 0${if (capped) " AND doc_id < 100000000" else ""}""".stripMargin +
      (if (refreshedProbe) "\n UNION ALL SELECT -1 AS q_id, 'refreshed' AS token)" else ")")

  /** BM25 over `src`'s rows (`unit` id, `text`) for the probe terms of
    * CTE `q`: CTEs toks, post, dl, stats, dfq and scored (q_id, `unit`,
    * score), each name suffixed `sfx`; `lead` columns head each scored
    * row. The idf is Robertson/Lucene's; N and avgdl count only rows with
    * text. Constant folding mirrors the Spark expression tree
    * ((0.25 + 0.75*dl/avgdl), tf*2.2) so both engines evaluate the
    * identical double arithmetic before the round.
    */
  private def bm25Sql(src: String, unit: String = "doc_id", text: String = "text",
                      sfx: String = "", lead: Seq[String] = Nil) =
    s"""toks$sfx AS (SELECT $unit, unnest(string_split($text, ' ')) AS token FROM $src),
      |post$sfx AS (SELECT $unit, token, count(*) AS tf FROM toks$sfx GROUP BY 1, 2),
      |dl$sfx AS (SELECT $unit, CAST(len(string_split($text, ' ')) AS DOUBLE) AS dl FROM $src),
      |stats$sfx AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl$sfx
      | WHERE dl IS NOT NULL),
      |dfq$sfx AS (SELECT token, count(*) AS df FROM post$sfx
      | WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1),
      |scored$sfx AS (SELECT ${lead.map(_ + ", ").mkString}q.q_id, p.$unit,
      |  round(sum(ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
      |    * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
      | FROM post$sfx p JOIN q ON p.token = q.token JOIN dfq$sfx f ON p.token = f.token
      | JOIN dl$sfx dl ON p.$unit = dl.$unit CROSS JOIN stats$sfx s
      | GROUP BY ${(1 to lead.size + 2).mkString(", ")})""".stripMargin

  /** The top-`k` BM25 oracle over `src` for the probe-term CTE `probes`;
    * `prelude` CTEs (each followed by a comma) define `src` if needed.
    */
  private def bm25TopKSql(probes: String, k: Int, src: String = "documents",
                          prelude: String = "") =
    s"""WITH $prelude$probes,
      |${bm25Sql(src)}
      |SELECT q_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
      | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
      | FROM scored)
      |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** CTE `name` (q_id, `key`, rank): the top `k` keys per q_id of `src`
    * by `by` DESC, ties to the smaller key.
    */
  private def topKSql(name: String, src: String, k: Int, key: String = "doc_id",
                      by: String = "score") =
    s"""$name AS (SELECT q_id, $key, rank FROM (
      | SELECT q_id, $key,
      |  row_number() OVER (PARTITION BY q_id ORDER BY $by DESC, $key) AS rank
      | FROM $src) WHERE rank <= $k)""".stripMargin

  /** CTE `name` (q_id, `key`, rrf): reciprocal-rank fusion (k0 = 60) of the
    * ranked CTEs `lex` and `sem`; 1.0::DOUBLE keeps the division out of
    * DuckDB's decimal arithmetic so both engines sum doubles.
    */
  private def rrfSql(name: String, key: String = "doc_id") =
    s"""$name AS (SELECT q_id, $key,
      |  round(sum(1.0::DOUBLE / (60 + rank)), 6) AS rrf
      | FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem) GROUP BY 1, 2)""".stripMargin

  /** CTE `name` (doc_id, chunk_id, ck, tok_start, tok_end, chunk): the
    * `window`-token chunks of `src`'s docs every `stride` tokens, the last
    * reaching the tail; ck = doc_id·2²⁰ + chunk_id.
    */
  private def chunksSql(name: String, src: String, window: Int, stride: Int) =
    s"""${name}_t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n FROM $src),
      |${name}_c AS (SELECT doc_id, toks, n,
      |  CAST(unnest(generate_series(0, CASE WHEN n <= $window THEN 0
      |    ELSE CAST(ceil((n - $window) / $stride.0) AS INTEGER) END)) AS INTEGER) AS chunk_id
      | FROM ${name}_t),
      |$name AS (SELECT doc_id, chunk_id, doc_id * 1048576 + chunk_id AS ck,
      |  chunk_id * $stride AS tok_start, least(chunk_id * $stride + $window, n) AS tok_end,
      |  array_to_string(toks[chunk_id * $stride + 1:least(chunk_id * $stride + $window, n)], ' ')
      |    AS chunk
      | FROM ${name}_c)""".stripMargin

  /** CTE `perdoc` (q_id, doc_id, best_chunk, `score`, rn): the top-20
    * chunks per q_id of CTE `src` (q_id, ck, `score`), each ranked within
    * its doc (rn = 1: the doc's best chunk).
    */
  private def perDocSql(src: String, score: String = "score") =
    s"""chits AS (SELECT q_id, ck, $score FROM (
      | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY $score DESC, ck) AS r
      | FROM $src) WHERE r <= 20),
      |perdoc AS (SELECT q_id, ck // 1048576 AS doc_id, ck % 1048576 AS best_chunk, $score,
      |  row_number() OVER (PARTITION BY q_id, ck // 1048576
      |    ORDER BY $score DESC, ck % 1048576) AS rn
      | FROM chits)""".stripMargin

  /** The final top-5 docs per q_id of CTE `perdoc`, each by its best chunk. */
  private def docTopKSql(score: String = "score") =
    s"""SELECT q_id, doc_id, best_chunk, $score, CAST(rank AS INTEGER) AS rank FROM (
      | SELECT q_id, doc_id, best_chunk, $score,
      |  row_number() OVER (PARTITION BY q_id ORDER BY $score DESC, doc_id) AS rank
      | FROM perdoc WHERE rn = 1)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Chunk-granular BM25 retrieval over the docs of `src` for the probe
    * terms of the `mod`-th docs' tokens 5..8: top-20 chunks, then the
    * top-5 docs by best chunk. `prelude` CTEs define `src` if needed.
    */
  private def chunkRetrievalSql(src: String, mod: Int, prelude: String = "") =
    s"""WITH $prelude${chunksSql("chunks", src, 32, 16)},
      |${probeTermsSql(mod, 5, 4)},
      |${bm25Sql("chunks", unit = "ck", text = "chunk")},
      |${perDocSql("scored")}
      |${docTopKSql()}""".stripMargin

  private val simhashCte =
    s"""WITH ${shinglesSql("sh", "documents")},
      |h AS (SELECT doc_id,
      |  list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
      |  FROM sh),
      |sim AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(range(0, 60), j ->
      |    CASE WHEN 2 * len(list_filter(hs, x -> ((x >> j) & 1) = 1)) > len(hs)
      |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
      |  FROM h)""".stripMargin

  /** CTE `name` (vec_id, v): the double vectors plus [[withScaledCopies]]' copies. */
  private def scaledCopiesSql(name: String) =
    s"""$name AS (
      | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      | UNION ALL
      | SELECT vec_id + 10000 AS vec_id,
      |  list_transform(embedding::DOUBLE[], x -> x * 1.5) AS v
      | FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin

  /** The RRF of CTEs `lex` and `sem` cut to the final top `k` per q_id. */
  private def fusedTopKSql(k: Int) =
    s"""${rrfSql("fused")}
      |SELECT q_id, doc_id, rrf, CAST(rank AS INTEGER) AS rank FROM (
      | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
      | FROM fused)
      |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** The quality score's parts of `text` as columns uniq_ratio,
    * stop_ratio and len_score; [[qualityMixSql]] weighs them.
    */
  private def qualityPartsSql(text: String) =
    s"""CAST(len(list_distinct(string_split($text, ' '))) AS DOUBLE)
      |    / len(string_split($text, ' ')) AS uniq_ratio,
      |  CAST(len(list_filter(string_split($text, ' '),
      |    x -> list_contains($markersSql, x))) AS DOUBLE)
      |    / len(string_split($text, ' ')) AS stop_ratio,
      |  least(CAST(length($text) AS DOUBLE) / 500.0, 1.0) AS len_score""".stripMargin

  private val qualityMixSql = "uniq_ratio * 0.4 + stop_ratio * 0.3 + len_score * 0.3"

  /** Gopher rule statistics from `documents`' postings: CTE `g` (doc_id,
    * n_tokens, top, avg_token_len, n_stopwords), and CTE `gate` (doc_id,
    * n_tokens) of the docs that pass every rule.
    */
  private val gopherSql =
    s"""gpost AS (SELECT doc_id, token, count(*) AS tf FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      | GROUP BY 1, 2),
      |g AS (SELECT doc_id,
      |  CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  CAST(max(tf) AS BIGINT) AS top,
      |  round(CAST(sum(length(token) * tf) AS DOUBLE) / sum(tf), 4) AS avg_token_len,
      |  CAST(sum(CASE WHEN list_contains($markersSql, token) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_stopwords
      | FROM gpost GROUP BY 1),
      |gate AS (SELECT doc_id, n_tokens FROM g
      | WHERE n_tokens BETWEEN 20 AND 100000
      |   AND avg_token_len BETWEEN 3.0 AND 10.0 AND n_stopwords >= 2
      |   AND round(CAST(top AS DOUBLE) / n_tokens, 4) <= 0.2)""".stripMargin

  /** The three-line docs of [[threeLines]]. */
  private val threeLinesSql =
    "'subscribe to updates' || chr(10) || text || chr(10) || 'lang tag ' || lang"

  /** CTEs `l` (doc_id, pos, line), the lines of `src`'s (doc_id, t) docs,
    * and `keep`, each distinct line's first (doc_id, pos) occurrence.
    */
  private def lineKeepSql(src: String) =
    s"""l AS (SELECT doc_id, g.i AS pos, ls[g.i] AS line
      | FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM $src),
      |  unnest(generate_series(1, len(ls))) AS g(i)),
      |keep AS (SELECT doc_id, pos, line FROM (
      |  SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      |  FROM l) WHERE rn = 1)""".stripMargin

  /** The corpus unigram LM over `src`'s (doc_id, text) docs: CTE `sc`
    * (doc_id, n_tokens, nll), the mean per-token NLL. The per-token NLL is
    * rounded to DECIMAL(18,6) BEFORE the per-doc sum: decimal summation is
    * exact, so the result is independent of aggregation order (a raw
    * double sum could differ in the last ulp between engines).
    */
  private def unigramNllSql(src: String) =
    s"""tf AS (SELECT doc_id, token FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $src)
      | WHERE len(token) > 0),
      |c AS (SELECT token, count(*) AS cnt FROM tf GROUP BY token),
      |n AS (SELECT sum(cnt) AS n_total FROM c),
      |sc AS (SELECT doc_id, count(*) AS n_tokens,
      |  round(CAST(sum(CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS nll
      | FROM tf JOIN c USING (token) CROSS JOIN n GROUP BY doc_id)""".stripMargin

  /** The linear classifier over `documents`: hashed unigram+bigram
    * features against [[classifierWeights]]' closed form, CTE `sc`
    * (doc_id, milli) in integer milli-units.
    */
  private val classifierSql =
    s"""toks AS (
      | SELECT doc_id,
      |  list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS t
      | FROM documents),
      |uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
      |bi AS (SELECT doc_id, t[s.i] || ' ' || t[s.i + 1] AS g
      | FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
      | WHERE len(t) >= 2),
      |f AS (SELECT doc_id,
      |  ('0x' || substr(md5(g), 1, 15))::BIGINT % $ClassifierFeatures AS feature,
      |  count(*) AS cnt
      | FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      | GROUP BY doc_id, feature),
      |sc AS (SELECT doc_id,
      |  sum(cnt * ((feature * 31 + 7) % 1001 - 500)) AS milli
      | FROM f GROUP BY doc_id)""".stripMargin

  /** DSIR over `documents` with the `%10 == 1` docs as target: CTE `b`
    * (doc_id, bucket), each doc's hashed unigram+bigram buckets, and CTE
    * `ratios` (bucket, lr_nano). Mirrors Dsir.weightsNano verbatim: same
    * md5 buckets, same smoothing expression shape (identical IEEE
    * evaluation order), nano-LONG floor before the per-doc sum so
    * summation order can't perturb the double.
    */
  private val dsirSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest(list_concat(toks,
      |   CASE WHEN len(toks) >= 2 THEN
      |    list_transform(generate_series(1, len(toks)-1),
      |     i -> toks[i] || ' ' || toks[i+1])
      |   ELSE []::VARCHAR[] END)) AS gram FROM t),
      |b AS (SELECT doc_id,
      |   ('0x' || substr(md5(gram), 1, 15))::BIGINT % 1024 AS bucket FROM g),
      |tc AS (SELECT bucket, count(*) AS ct FROM b WHERE doc_id % 10 = 1 GROUP BY bucket),
      |rc AS (SELECT bucket, count(*) AS cr FROM b WHERE doc_id % 10 <> 1 GROUP BY bucket),
      |tot AS (SELECT (SELECT sum(ct) FROM tc) AS nt, (SELECT sum(cr) FROM rc) AS nr),
      |ratios AS (SELECT bucket,
      |   CAST(floor(ln(((coalesce(ct, 0) + 1.0) / (nt + 1024.0)) /
      |                 ((coalesce(cr, 0) + 1.0) / (nr + 1024.0))) * 1000000000.0)
      |     AS BIGINT) AS lr_nano
      |   FROM tc FULL OUTER JOIN rc USING (bucket) CROSS JOIN tot)""".stripMargin

  /** [[bpeMerges]] applied to each word of `documents`: CTE `ap` (doc_id,
    * wpos, s), the word's chr(31)-delimited subwords. Greedy-leftmost
    * merging == non-overlapping left-to-right replace() over the
    * delimited symbol string (replacing consumes the shared delimiter, so
    * an overlapping second occurrence can't match — exactly the fold's
    * semantics).
    */
  private val bpeSql =
    """w AS (
      | SELECT doc_id, g.i AS wpos, words[g.i] AS word
      | FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |      unnest(generate_series(1, len(words))) AS g(i)
      | WHERE len(words[g.i]) > 0),
      |seg0 AS (SELECT doc_id, wpos,
      |  chr(31) || chr(31) ||
      |    array_to_string(string_split(word, ''), chr(31) || chr(31)) ||
      |    chr(31) || chr(31) || '</w>' || chr(31) || chr(31) AS s
      | FROM w),
      |ap AS (SELECT doc_id, wpos,
      | replace(replace(replace(replace(replace(s,
      |   chr(31)||'e'||chr(31)||chr(31)||'s'||chr(31), chr(31)||'es'||chr(31)),
      |   chr(31)||'es'||chr(31)||chr(31)||'t'||chr(31), chr(31)||'est'||chr(31)),
      |   chr(31)||'est'||chr(31)||chr(31)||'</w>'||chr(31), chr(31)||'est</w>'||chr(31)),
      |   chr(31)||'l'||chr(31)||chr(31)||'o'||chr(31), chr(31)||'lo'||chr(31)),
      |   chr(31)||'lo'||chr(31)||chr(31)||'w'||chr(31), chr(31)||'low'||chr(31)) AS s
      | FROM seg0)""".stripMargin

  /** The PQ encoding with the Spark fold's arithmetic: codebook `cb` (m,
    * code_id, sub) from the `%63 == 1` base-range seeds, subvector
    * distances `dist` (vec_id, m, code_id, d) with the (d, code_id)
    * argmin ranking `best` (rn), and each vector's `codes` (vec_id, m,
    * code_id).
    */
  private val pqSql =
    """sc AS (
      | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, embedding
      | FROM embeddings WHERE vec_id % 63 = 1 AND vec_id < 100000000),
      |cb AS (SELECT r.m, code_id,
      |  embedding[1 + 16*r.m : 16*(r.m + 1)] AS sub
      | FROM sc, range(4) r(m)),
      |vs AS (SELECT vec_id, r.m,
      |  embedding[1 + 16*r.m : 16*(r.m + 1)] AS vsub
      | FROM embeddings, range(4) r(m)),
      |dist AS (SELECT v.vec_id, v.m, c.code_id,
      |  round(list_sum(list_transform(range(1, len(v.vsub) + 1),
      |    i -> (CAST(v.vsub[i] AS DOUBLE) - CAST(c.sub[i] AS DOUBLE)) *
      |         (CAST(v.vsub[i] AS DOUBLE) - CAST(c.sub[i] AS DOUBLE)))), 6) AS d
      | FROM vs v JOIN cb c USING (m)),
      |best AS (SELECT vec_id, m, code_id, d,
      |  row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code_id) AS rn
      | FROM dist),
      |codes AS (SELECT vec_id, m, code_id FROM best WHERE rn = 1)""".stripMargin

  /** Winnowing over `src`'s (doc_id, text) docs: CTE `f` (doc_id, fps),
    * the sorted distinct minima of each 4-window of 7-char md5 gram hashes.
    */
  private def winnowSql(src: String) =
    s"""g AS (
      | SELECT doc_id,
      |  CASE WHEN length(text) >= 7 THEN
      |    list_transform(generate_series(1, length(text)-6),
      |      i -> ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 7)), 1, 15))::BIGINT)
      |  ELSE []::BIGINT[] END AS gh
      | FROM $src),
      |f AS (
      | SELECT doc_id,
      |  CASE WHEN len(gh) >= 4 THEN
      |    list_sort(list_distinct(list_transform(generate_series(1, len(gh)-3),
      |      j -> list_min(gh[j:j+3]))))
      |  WHEN len(gh) > 0 THEN [list_min(gh)]
      |  ELSE []::BIGINT[] END AS fps
      | FROM g)""".stripMargin

  /** Exact 5-gram contamination of the train docs (doc_id % 50 <> 0) by
    * the eval docs (doc_id % 50 = 0).
    */
  private val decontamSql =
    s"""WITH ${shinglesSql("g", "documents", k = 5, out = "grams")},
      |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0),
      |tr AS (SELECT doc_id, grams FROM g WHERE doc_id % 50 <> 0),
      |ov AS (SELECT doc_id, count(*) AS n_overlap
      |       FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) tg
      |       JOIN ev USING (gram) GROUP BY doc_id)
      |SELECT t.doc_id, len(t.grams) AS n_grams,
      | coalesce(ov.n_overlap, 0) AS n_overlap,
      | coalesce(ov.n_overlap, 0) >= 1 AS contaminated
      |FROM tr t LEFT JOIN ov USING (doc_id) ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_uniq,
        | CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""SELECT doc_id,
        | CAST(len(list_filter(string_split(text, ' '),
        |   t -> list_contains($markersSql, t))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS en_ratio,
        | CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |   t -> list_contains($markersSql, t))) AS DOUBLE)
        |   / len(string_split(text, ' ')) >= 0.08 THEN 'en' ELSE 'und' END AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH t AS (SELECT doc_id, ${qualityPartsSql("text")} FROM documents)
        |SELECT doc_id, uniq_ratio, stop_ratio, len_score, $qualityMixSql AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH all_docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |       FROM all_docs),
        |canon AS (SELECT fingerprint, min(doc_id) AS canonical_id, count(*) AS group_size
        |          FROM fp GROUP BY fingerprint)
        |SELECT doc_id, fingerprint, canonical_id, group_size,
        | doc_id <> canonical_id AS is_dup
        |FROM fp JOIN canon USING (fingerprint) ORDER BY doc_id""".stripMargin,

    "q_token_freq" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    "q_dedup_minhash" -> allPairsJaccardSql(0.7),

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $plantedDupsSql,
        |${clusterLabelsSql("all_docs")}
        |SELECT id AS doc_id, cluster_root, id = cluster_root AS is_canonical, cluster_size
        |FROM lab JOIN sizes USING (cluster_root)
        |ORDER BY doc_id""".stripMargin,

    "q_bpe_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text || ' v' || doc_id || '.x!', '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS n_bpe,
        | len(regexp_extract_all(text || ' v' || doc_id || '.x!', '[a-zA-Z]+')) AS n_alpha,
        | len(regexp_extract_all(text || ' v' || doc_id || '.x!', '[0-9]+')) AS n_num,
        | len(regexp_extract_all(text || ' v' || doc_id || '.x!', '[^a-zA-Z0-9\s]+')) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""WITH ${winnowSql("documents")}
        |SELECT doc_id, len(fps) AS n_fps, to_json(fps) AS fp_json
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_dedup_embed" ->
      s"""WITH ${scaledCopiesSql("base")},
        |p AS (
        | SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ${cosSql("a.v", "b.v")} AS cos
        | FROM base a JOIN base b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.99 ORDER BY a_id, b_id""".stripMargin,

    "q_simhash" ->
      s"""$simhashCte
        |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      s"""$simhashCte
        |SELECT a_id, b_id, hamming FROM (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        | FROM sim a JOIN sim b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

    "q_ngram_jaccard" -> allPairsJaccardSql(0.5),

    "q_span_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |all_docs AS (
        | SELECT doc_id, text FROM base
        | UNION ALL
        | SELECT doc_id + 10000 AS doc_id,
        |        array_to_string(arr[1 : len(arr) // 2], ' ') AS text
        | FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM base)
        | WHERE len(arr) >= 16),
        |split AS (SELECT doc_id, string_split(text, ' ') AS arr FROM all_docs),
        |toks AS (
        | SELECT doc_id, i - 1 AS i, arr[i] AS tok
        | FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM split)),
        |grams AS (
        | SELECT doc_id, p AS pos, md5(array_to_string(arr[p + 1 : p + 8], ' ')) AS g
        | FROM (SELECT doc_id, arr, unnest(generate_series(0, len(arr) - 8)) AS p
        |       FROM split WHERE len(arr) >= 8)),
        |occ AS (
        | SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
        |        count(*) OVER (PARTITION BY g) AS c
        | FROM grams),
        |removed AS (
        | SELECT DISTINCT doc_id, pos + x AS i
        | FROM (SELECT doc_id, pos, unnest(generate_series(0, 7)) AS x
        |       FROM occ WHERE c > 1 AND rn > 1)),
        |nrem AS (SELECT doc_id, count(*) AS n_removed FROM removed GROUP BY doc_id),
        |kept AS (
        | SELECT t.doc_id, t.i, t.tok
        | FROM toks t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
        | WHERE r.doc_id IS NULL),
        |rebuilt AS (
        | SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS rb
        | FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        | CASE WHEN n.n_removed IS NULL THEN d.text ELSE coalesce(r.rb, '') END AS dedup_text,
        | coalesce(n.n_removed, 0) AS n_removed
        |FROM all_docs d
        |LEFT JOIN nrem n USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_cos_undefined" ->
      s"""WITH base AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0
        | UNION ALL
        | SELECT vec_id + 100000000, list_transform(embedding::DOUBLE[], x -> 0.0)
        | FROM embeddings WHERE vec_id % 100 = 0),
        |q AS (
        | SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        | FROM embeddings WHERE vec_id IN (3, 100, 197)
        | UNION ALL
        | SELECT vec_id + 100000000, list_transform(embedding::DOUBLE[], x -> 0.0)
        | FROM embeddings WHERE vec_id IN (3, 197))
        |SELECT q.q_id, c.vec_id AS c_id, ${cosSql("q.qv", "c.v")} AS cos
        |FROM q CROSS JOIN base c ORDER BY q_id, c_id""".stripMargin,

    "q_embed_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |p AS (
        | SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
        |  ${cosSql("q.v", "c.v")} AS cos
        | FROM e q JOIN e c ON q.vec_id <> c.vec_id
        | WHERE q.label = 0)
        |${cosTopKSql(5)}""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        | octet_length(encode(text)) AS byte_len,
        | sha256(text) AS sha256,
        | lower(hex(encode(substr(text, 1, 8)))) AS magic,
        | CAST(greatest((octet_length(encode(text)) - 32) // 64, 0) + 1 AS INTEGER) AS n_frames,
        | md5(array_to_string(list_transform(
        |   generate_series(0, greatest((octet_length(encode(text)) - 32) // 64, 0)),
        |   i -> substr(text, CAST(i*64+1 AS INTEGER), 32)), '|')) AS frames_sig
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_hash_split" ->
      """WITH b AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |    AS bucket
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN bucket < 80 THEN 'train'
        |      WHEN bucket < 90 THEN 'valid'
        |      ELSE 'test' END AS split,
        | bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_pack_chunks" ->
      """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |s AS (SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        | FROM t)
        |SELECT doc_id, source, n_tokens, tok_end, tok_end - n_tokens AS tok_start,
        | (tok_end - n_tokens) // 128 AS first_chunk,
        | (tok_end - 1) // 128 AS last_chunk,
        | ((tok_end - 1) // 128) - ((tok_end - n_tokens) // 128) + 1 AS n_chunks
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |  CASE WHEN lang = 'en' THEN 25 WHEN lang = 'zh' THEN 100 ELSE 60 END AS rate_pct
        | FROM documents)
        |SELECT doc_id, lang, bucket, rate_pct FROM b
        |WHERE bucket < rate_pct ORDER BY doc_id""".stripMargin,

    "q_text_clean" ->
      """WITH noisy AS (SELECT doc_id,
        |  '  <P>' || upper(substr(text, 1, 15)) || substr(text, 16) || ' 42!!  ' AS text
        | FROM documents),
        |c AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
        |       ' +', ' ', 'g')) AS clean
        | FROM noisy)
        |SELECT doc_id, clean, length(text) - length(clean) AS removed_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS norm
        | FROM e),
        |u AS (SELECT vec_id, norm,
        |  CASE WHEN norm > 0 THEN list_transform(v, x -> x / norm) ELSE v END AS unit
        | FROM n),
        |m AS (SELECT vec_id, norm, unit,
        |  list_max(list_transform(unit, x -> abs(x))) AS maxabs
        | FROM u)
        |SELECT vec_id, round(norm, 6) AS norm6, round(maxabs / 127.0, 6) AS scale6,
        | to_json(CASE WHEN maxabs > 0
        |   THEN list_transform(unit, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS INTEGER))
        |   ELSE list_transform(unit, x -> 0) END) AS q_json
        |FROM m ORDER BY vec_id""".stripMargin,

    "q_corpus_pipeline" ->
      s"""WITH all_docs AS (
        | SELECT doc_id, source, lang, text FROM documents
        | UNION ALL
        | SELECT doc_id + 10000 AS doc_id, source, lang, text FROM documents
        | WHERE doc_id % 5 = 0),
        |noisy AS (SELECT doc_id, source, lang,
        |  upper(substr(text, 1, 10)) || substr(text, 11) || ' !!' AS text
        | FROM all_docs),
        |cleaned AS (SELECT doc_id, source, lang,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
        |       ' +', ' ', 'g')) AS text
        | FROM noisy),
        |parts AS (SELECT *, ${qualityPartsSql("text")} FROM cleaned),
        |scored AS (SELECT *, $qualityMixSql AS quality FROM parts),
        |good AS (SELECT * FROM scored WHERE quality >= 0.4),
        |fp AS (SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        |         AS fingerprint
        |       FROM good),
        |uniq AS (SELECT * FROM fp
        |         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)),
        |sampled AS (SELECT * FROM uniq
        | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |       < CASE WHEN lang = 'en' THEN 50 ELSE 100 END),
        |toks AS (SELECT *, len(string_split(text, ' ')) AS n_tokens FROM sampled),
        |spans AS (SELECT *,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        | FROM toks)
        |SELECT doc_id, source, lang, round(quality, 6) AS quality6, n_tokens,
        | tok_end - n_tokens AS tok_start,
        | (tok_end - n_tokens) // 128 AS first_chunk,
        | ((tok_end - 1) // 128) - ((tok_end - n_tokens) // 128) + 1 AS n_chunks
        |FROM spans ORDER BY doc_id""".stripMargin,

    "q_rollup_budget" ->
      """WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
        |       THEN 'valid' ELSE 'test' END AS split
        | FROM documents)
        |SELECT coalesce(split, 'ALL') AS split, coalesce(lang, 'ALL') AS lang,
        | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM d GROUP BY ROLLUP (split, lang)
        |ORDER BY split, lang""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_pivot_events" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS n_click,
        | count(*) FILTER (WHERE event_type = 'error') AS n_error,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase')
        |      AS DOUBLE) AS purchase_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_event_gaps" ->
      """WITH g AS (SELECT user_id, event_id,
        |  epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id))
        |    AS gap_ms
        | FROM events)
        |SELECT user_id, count(*) AS n_events,
        | max(gap_ms) AS max_gap_ms, CAST(sum(gap_ms) AS BIGINT) AS sum_gap_ms
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_multimodal_resize" ->
      """SELECT doc_id,
        | array_to_string(list_transform(generate_series(0, 15),
        |   i -> hex(encode(substring(text,
        |     CAST((i * octet_length(encode(text)) // 16) + 1 AS INTEGER), 1)))), '')
        |   AS resized_hex,
        | octet_length(encode(text)) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_decode" ->
      """WITH d AS (
        | SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
        |idx AS (
        | SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM d),
        |px AS (
        | SELECT doc_id, w, h,
        |  ((i % w) * 7 + (i // w) * 13 + doc_id) % 256 AS r,
        |  ((i % w) * 3 + (i // w) * 5 + 2 * doc_id) % 256 AS g,
        |  ((i % w) + (i // w) + 3 * doc_id) % 256 AS b
        | FROM idx)
        |SELECT doc_id, CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
        | round(CAST(sum(r) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_r,
        | round(CAST(sum(g) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_g,
        | round(CAST(sum(b) AS DOUBLE) / (max(w) * max(h)), 6) AS mean_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The closed-form sample stream recomputed without RIFF parsing.
    "q_multimodal_audio" ->
      """WITH d AS (SELECT doc_id,
        |  8000 + (doc_id % 4) * 4000 AS sample_rate,
        |  1 + doc_id % 2 AS channels,
        |  (16 + doc_id % 17) * (1 + doc_id % 2) AS n
        | FROM documents),
        |s AS (SELECT doc_id, sample_rate, channels, n,
        |  ((unnest(generate_series(0, CAST(n - 1 AS INTEGER))) * 37 + doc_id * 101) % 2048) - 1024 AS v
        | FROM d)
        |SELECT doc_id, CAST(max(sample_rate) AS INT) AS sample_rate,
        | CAST(max(channels) AS INT) AS channels,
        | CAST(max(n) AS BIGINT) AS n_samples,
        | round(CAST(sum(abs(v)) AS DOUBLE) / max(n), 6) AS mean_abs,
        | round(sqrt(CAST(sum(CAST(v AS BIGINT) * v) AS DOUBLE) / max(n)), 6) AS rms
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_embed_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |${centSql("e")},
        |${nearestSql("assign", "e")},
        |${nearestSql("probes", "e", where = "x.label = 0")},
        |p AS (${bucketCosSql("probes", "assign")})
        |${cosTopKSql(3)}""".stripMargin,

    "q_embed_ivf_nprobe" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |${centSql("e")},
        |${nearestSql("assign", "e")},
        |${nearestSql("probes", "e", top = 2, where = "x.label = 0")},
        |p AS (${bucketCosSql("probes", "assign")})
        |${cosTopKSql(3)}""".stripMargin,

    "q_decontaminate" -> decontamSql,

    // The Bloom path is exact (no false negatives + exact verify), so its
    // oracle is the same exact-overlap SQL as q_decontaminate.
    "q_decontaminate_bloom" -> decontamSql,

    "q_dsir_weights" ->
      s"""WITH $dsirSql
        |SELECT doc_id, count(*) AS n_feats,
        | round(sum(lr_nano) / 1000000000.0, 6) AS log_w
        |FROM b JOIN ratios USING (bucket) WHERE doc_id % 10 <> 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dsir_select" ->
      s"""WITH $dsirSql,
        |w AS (SELECT doc_id, sum(lr_nano) AS w_nano
        |      FROM b JOIN ratios USING (bucket) WHERE doc_id % 10 <> 1
        |      GROUP BY doc_id)
        |SELECT doc_id,
        | round(w_nano / 1000000000.0 +
        |  -ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           + 0.5) / 1152921504606846976.0)), 6) AS score
        |FROM w ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |per_row AS (SELECT doc_id, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) >= 2 THEN
        |   1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(toks)-1),
        |     i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1)
        |  ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN len(toks) >= 3 THEN
        |   1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(toks)-2),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE) / (len(toks) - 2)
        |  ELSE 0.0 END AS dup_3gram_frac
        | FROM t),
        |top AS (SELECT doc_id, max(c) AS top FROM (
        |  SELECT doc_id, count(*) AS c FROM (
        |   SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
        | GROUP BY doc_id)
        |SELECT p.doc_id, p.n_tokens, p.dup_2gram_frac, p.dup_3gram_frac,
        | CASE WHEN p.n_tokens > 0
        |  THEN CAST(coalesce(top, 0) AS DOUBLE) / p.n_tokens ELSE 0.0 END AS top_token_frac,
        | (CASE WHEN p.n_tokens > 0
        |   THEN CAST(coalesce(top, 0) AS DOUBLE) / p.n_tokens ELSE 0.0 END > 0.20
        |  OR p.dup_2gram_frac > 0.20) AS flagged
        |FROM per_row p LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      """WITH w AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0
        |   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |   ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0
        |   THEN ' call 555-' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') || '-'
        |     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |   ELSE '' END ||
        |  ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |    || CAST(doc_id % 100 AS VARCHAR) AS text
        | FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]')) AS n_emails,
        | len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        | len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]', '<EMAIL>', 'g'),
        |   '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |   '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM w ORDER BY doc_id""".stripMargin,

    "q_winnow_pairs" ->
      s"""WITH all_docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 10000, 'prefix edit ' || text FROM documents
        | WHERE doc_id % 31 = 0),
        |${winnowSql("all_docs")},
        |x AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |keep AS (SELECT fp FROM x GROUP BY fp HAVING count(*) <= 5),
        |xx AS (SELECT doc_id, fp FROM x JOIN keep USING (fp))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        |FROM xx a JOIN xx b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,

    "q_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${centSql("e")},
        |${nearestSql("assign", "e")},
        |x AS (SELECT bucket,
        |  unnest(list_transform(range(1, len(v)+1), i -> {'pos': i-1, 'x': v[i]}),
        |    recursive := true)
        | FROM assign)
        |SELECT bucket, CAST(pos AS INTEGER) AS pos,
        | round(list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(*), 6) AS m
        |FROM x GROUP BY bucket, pos ORDER BY bucket, pos""".stripMargin,

    "q_edit_distance" ->
      s"""WITH ${shinglesSql("sh", "documents")},
        |${pairsSql(0.7)}
        |SELECT a_id, b_id, jac,
        | levenshtein(da.text, db.text) AS lev,
        | round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |   / greatest(length(da.text), length(db.text)), 6) AS lev_sim
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.a_id
        |JOIN documents db ON db.doc_id = p.b_id
        |ORDER BY a_id, b_id""".stripMargin,

    "q_mixture_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |wt AS (SELECT source, (CAST(substr(source, 4) AS BIGINT) % 3) + 1 AS w
        |       FROM (SELECT DISTINCT source FROM d)),
        |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS toks FROM d GROUP BY source),
        |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM wt),
        |g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS grand FROM d),
        |r AS (SELECT source, w,
        |  least(1000, (((grand * 1) // 2) * w * 1000) // (sum_w * toks)) AS p_permille
        | FROM tot JOIN wt USING (source) CROSS JOIN sw CROSS JOIN g)
        |SELECT doc_id, source, n_tokens, w, p_permille,
        | ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bucket_pm
        |FROM d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < p_permille
        |ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, token, tf, df,
        |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        | FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, df, tfidf, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
        | FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // KMV = the k smallest distinct md5Long60 hashes; in SQL that is a
    // row_number()<=k window over the distinct hash set. Estimator operands
    // are exact doubles, so floor((k-1)*2^60/h_k) matches Spark bit-for-bit.
    "q_kmv_distinct" ->
      """WITH h AS (
        | SELECT DISTINCT event_type,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        | FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, hv,
        |  row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
        |s AS (SELECT event_type, count(*) AS n_in_sketch,
        |  max(CASE WHEN rn = 64 THEN hv END) AS hk
        | FROM r WHERE rn <= 64 GROUP BY event_type),
        |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        | FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_exact,
        | CASE WHEN n_in_sketch < 64 THEN n_in_sketch
        |      ELSE CAST(floor(63.0 * pow(2.0, 60.0) / greatest(hk, 1)) AS BIGINT)
        | END AS n_est
        |FROM s JOIN x USING (event_type) ORDER BY event_type""".stripMargin,

    "q_ngram_lm" ->
      s"""WITH ${unigramNllSql("documents")}
        |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens, sc.nll
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // The sequential next-fit fold as a recursive CTE: row rn joins row
    // rn-1's (bin_id, bin_fill) within its source — the same walk the
    // mapPartitions fold takes.
    "q_pack_nextfit" ->
      """WITH RECURSIVE d AS (
        | SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        | FROM documents WHERE len(string_split(text, ' ')) > 0),
        |p AS (
        | SELECT source, doc_id, n_tokens, rn,
        |  CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_fill
        | FROM d WHERE rn = 1
        | UNION ALL
        | SELECT d.source, d.doc_id, d.n_tokens, d.rn,
        |  CASE WHEN p.bin_fill + d.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
        |  CASE WHEN p.bin_fill + d.n_tokens > 256 THEN d.n_tokens
        |       ELSE p.bin_fill + d.n_tokens END
        | FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, doc_id, n_tokens, bin_id, bin_fill FROM p
        |ORDER BY doc_id""".stripMargin,

    // Exact all-pairs clusters + priority-window winner; the mirror copies
    // (prio 0, higher ids) must win their clusters over the originals.
    "q_dedup_priority" ->
      s"""WITH RECURSIVE all_docs AS (
        | SELECT doc_id, text, 1 AS prio FROM documents
        | UNION ALL
        | SELECT doc_id + 10000, text, 0 FROM documents WHERE doc_id % 20 = 0),
        |${clusterLabelsSql("all_docs")},
        |att AS (SELECT doc_id AS id, prio, len(text) AS sz FROM all_docs),
        |w AS (SELECT lab.id, cluster_root,
        |  first_value(lab.id) OVER (PARTITION BY cluster_root
        |    ORDER BY prio, sz DESC, lab.id) AS keep_id
        | FROM lab JOIN att USING (id))
        |SELECT id AS doc_id, cluster_root, keep_id, id = keep_id AS is_kept
        |FROM w ORDER BY doc_id""".stripMargin,

    // The q_ngram_lm scoring pipeline + per-language ntile(3). NULLS FIRST
    // matches Spark's asc_nulls_first for token-less docs.
    "q_ccnet_buckets" ->
      s"""WITH ${unigramNllSql("documents")},
        |j AS (SELECT d.doc_id, d.lang, sc.nll
        |      FROM documents d LEFT JOIN sc USING (doc_id)),
        |b AS (SELECT doc_id, lang, nll,
        |  CAST(ntile(3) OVER (PARTITION BY lang ORDER BY nll NULLS FIRST, doc_id)
        |    AS INTEGER) AS bucket
        | FROM j)
        |SELECT doc_id, lang, nll, bucket,
        | CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle'
        |      ELSE 'tail' END AS ccnet_bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    // The identical CMS: bucket = md5Long60(depth || chr(1) || token) mod
    // 1024 per depth 0..3; estimate = min over depths of the bucket count.
    "q_cms_freq" ->
      """WITH tf AS (
        | SELECT token FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        | WHERE len(token) > 0),
        |probes AS (
        | SELECT token,
        |  r.i AS depth,
        |  ('0x' || substr(md5(CAST(r.i AS VARCHAR) || chr(1) || token), 1, 15))::BIGINT
        |    % 1024 AS bucket
        | FROM tf CROSS JOIN range(4) r(i)),
        |cms AS (SELECT depth, bucket, count(*) AS cnt FROM probes GROUP BY 1, 2),
        |ex AS (SELECT token, count(*) AS n_exact FROM tf GROUP BY token),
        |lk AS (
        | SELECT e.token, min(c.cnt) AS n_est
        | FROM ex e CROSS JOIN range(4) r(i)
        | JOIN cms c ON c.depth = r.i
        |  AND c.bucket = ('0x' || substr(md5(CAST(r.i AS VARCHAR) || chr(1) || e.token), 1, 15))::BIGINT % 1024
        | GROUP BY e.token)
        |SELECT token, n_exact, n_est FROM ex JOIN lk USING (token)
        |ORDER BY n_exact DESC, token LIMIT 50""".stripMargin,

    // PQ mirrored: same subvector slices, same fold arithmetic (x-y)^2 via
    // list ops, same (dist, code_id) argmin, DECIMAL-exact error sum.
    "q_embed_pq" ->
      s"""WITH $pqSql
        |SELECT vec_id,
        | string_agg(CAST(code_id AS VARCHAR), ' ' ORDER BY m) AS codes_str,
        | round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE), 6) AS err
        |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // The q_bpe_segment word pipeline, re-aggregated per language.
    "q_tokenizer_fertility" ->
      s"""WITH $bpeSql,
        |per_doc AS (SELECT doc_id,
        |  CAST(sum(len(string_split(trim(regexp_replace(replace(s, chr(31), ' '), ' +', ' ', 'g')), ' '))) AS BIGINT) AS n_subwords,
        |  CAST(count(*) AS BIGINT) AS n_words
        | FROM ap GROUP BY doc_id)
        |SELECT d.lang,
        | CAST(sum(p.n_subwords) AS BIGINT) AS subwords,
        | CAST(sum(p.n_words) AS BIGINT) AS words,
        | round(CAST(sum(p.n_subwords) AS DOUBLE) / sum(p.n_words), 6) AS fertility
        |FROM per_doc p JOIN documents d USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // Each stage mirrored: q_nfc_normalize + q_ngram_lm/q_ccnet_buckets +
    // q_dedup_exact + q_epoch_shuffle + q_pack_chunks, composed.
    "q_corpus_pipeline2" ->
      s"""WITH norm AS (
        | SELECT doc_id, lang, nfc_normalize(text) AS text FROM documents),
        |${unigramNllSql("norm")},
        |j AS (SELECT d.doc_id, d.lang, d.text, sc.nll
        |      FROM norm d LEFT JOIN sc USING (doc_id)),
        |b AS (SELECT *, CAST(ntile(3) OVER (PARTITION BY lang
        |   ORDER BY nll NULLS FIRST, doc_id) AS INTEGER) AS bucket FROM j),
        |g AS (SELECT doc_id, lang, text, nll,
        |  CASE WHEN bucket = 1 THEN 'head' ELSE 'middle' END AS ccnet_bucket
        | FROM b WHERE bucket <= 2),
        |fp AS (SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        |   AS fingerprint FROM g),
        |canon AS (SELECT fingerprint, min(doc_id) AS canonical_id
        |          FROM fp GROUP BY fingerprint),
        |u AS (SELECT fp.* FROM fp JOIN canon USING (fingerprint)
        |      WHERE doc_id = canonical_id),
        |h AS (SELECT *, ('0x' || substr(md5('1' || chr(1) ||
        |   CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv FROM u),
        |e AS (SELECT *, CAST(hv % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
        |    AS INTEGER) AS pos FROM h),
        |tok AS (SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT)
        |   AS n_tokens FROM e),
        |p AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        | FROM tok WHERE n_tokens > 0)
        |SELECT doc_id, lang, ccnet_bucket, nll, shard, pos, n_tokens,
        | tok_end - n_tokens AS tok_start,
        | (tok_end - n_tokens) // 256 AS first_chunk,
        | ((tok_end - 1) // 256) - ((tok_end - n_tokens) // 256) + 1 AS n_chunks
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_nfc_normalize" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' Cafe' || chr(769) || ' no' || chr(776) || 'el' AS dirty
        | FROM documents)
        |SELECT doc_id, nfc_normalize(dirty) AS nfc_text,
        | CAST(len(dirty) AS INTEGER) AS n_raw,
        | CAST(len(nfc_normalize(dirty)) AS INTEGER) AS n_nfc
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |p AS (
        | SELECT q.vec_id AS q_id, q.label AS q_label,
        |  c.vec_id AS neighbor_id, c.label AS n_label,
        |  ${cosSql("q.v", "c.v")} AS cos
        | FROM e q JOIN e c ON q.vec_id <> c.vec_id AND q.label <> c.label
        | WHERE q.vec_id % 97 = 5)
        |SELECT q_id, q_label, neighbor_id, n_label, cos,
        | CAST(rank AS INTEGER) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        | FROM p)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // ADC mirrored: the q_embed_pq encoding CTEs + per-query distance
    // tables + the same (adist, neighbor_id) ranking.
    "q_embed_pq_topk" ->
      s"""WITH $pqSql,
        |dt AS (SELECT vec_id AS q_id, m, code_id, d FROM dist
        |       WHERE vec_id % 97 = 5 AND vec_id < 100000000),
        |adist AS (SELECT dt.q_id, c.vec_id AS neighbor_id,
        |  round(CAST(sum(CAST(dt.d AS DECIMAL(18,6))) AS DOUBLE), 6) AS adist
        | FROM codes c JOIN dt ON dt.m = c.m AND dt.code_id = c.code_id
        | GROUP BY dt.q_id, c.vec_id),
        |r AS (SELECT q_id, neighbor_id, adist,
        |  row_number() OVER (PARTITION BY q_id ORDER BY adist, neighbor_id) AS rank
        | FROM adist WHERE q_id <> neighbor_id)
        |SELECT q_id, neighbor_id, adist, rank FROM r WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // IVF assignment/probes (as in q_embed_ivf_nprobe) + PQ codes/distance
    // tables (as in q_embed_pq_topk), candidates restricted to probed
    // buckets before the ADC sum.
    "q_embed_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${centSql("e")},
        |${nearestSql("assign", "e")},
        |${nearestSql("probes", "e", top = 2, where = "x.vec_id % 97 = 5")},
        |$pqSql,
        |dt AS (SELECT vec_id AS q_id, m, code_id, d FROM dist
        |       WHERE vec_id % 97 = 5),
        |cand AS (SELECT p.vec_id AS q_id, a.vec_id AS neighbor_id
        | FROM probes p JOIN assign a ON a.bucket = p.bucket
        | WHERE p.vec_id <> a.vec_id),
        |adist AS (SELECT cand.q_id, cand.neighbor_id,
        |  round(CAST(sum(CAST(dt.d AS DECIMAL(18,6))) AS DOUBLE), 6) AS adist
        | FROM cand
        | JOIN codes c ON c.vec_id = cand.neighbor_id
        | JOIN dt ON dt.q_id = cand.q_id AND dt.m = c.m AND dt.code_id = c.code_id
        | GROUP BY cand.q_id, cand.neighbor_id),
        |r AS (SELECT q_id, neighbor_id, adist,
        |  row_number() OVER (PARTITION BY q_id ORDER BY adist, neighbor_id) AS rank
        | FROM adist)
        |SELECT q_id, neighbor_id, adist, rank FROM r WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // The identical hashed features against the closed-form weight table;
    // milli-unit integer sums, divided at the end.
    "q_classifier_score" ->
      s"""WITH $classifierSql
        |SELECT d.doc_id,
        | round(CAST(coalesce(sc.milli, 0) AS DOUBLE) / 1000, 6) AS score,
        | CAST(coalesce(sc.milli, 0) > 0 AS BOOLEAN) AS keep
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Longest-first rank per source with the id tiebreak; kept = rank<=50.
    "q_domain_cap" ->
      """SELECT doc_id, source,
        | CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
        |   AS INTEGER) AS domain_rank,
        | row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) <= 50
        |   AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Gate (milli > 0) → md5-fingerprint dedup → score-ranked domain cap
    // → (epoch=1, id)-hash shard/pos, all in one statement.
    "q_corpus_pipeline3" ->
      s"""WITH $classifierSql,
        |scored AS (
        | SELECT d.doc_id, d.source, d.text,
        |  round(CAST(milli AS DOUBLE) / 1000, 6) AS score
        | FROM documents d JOIN sc USING (doc_id) WHERE milli > 0),
        |fp AS (SELECT doc_id, source, score,
        |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
        | FROM scored),
        |canon AS (SELECT fingerprint, min(doc_id) AS canonical_id
        | FROM fp GROUP BY fingerprint),
        |uniq AS (SELECT doc_id, source, score
        | FROM fp JOIN canon USING (fingerprint) WHERE doc_id = canonical_id),
        |capped AS (SELECT * FROM (
        |  SELECT doc_id, source, score,
        |   CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
        |     AS INTEGER) AS domain_rank
        |  FROM uniq) WHERE domain_rank <= 40),
        |h AS (SELECT *,
        |  ('0x' || substr(md5('1' || chr(1) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        | FROM capped)
        |SELECT doc_id, source, score, domain_rank,
        | CAST(hv % 8 AS INTEGER) AS shard,
        | CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS INTEGER) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,

    // The identical (epoch, id) hash → shard → within-shard rank.
    "q_epoch_shuffle" ->
      """WITH e AS (
        | SELECT doc_id, v.epoch FROM documents, (VALUES (1), (2)) v(epoch)),
        |h AS (SELECT doc_id, epoch,
        |  ('0x' || substr(md5(CAST(epoch AS VARCHAR) || chr(1) || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        | FROM e)
        |SELECT doc_id, epoch, CAST(hv % 8 AS INTEGER) AS shard,
        | CAST(row_number() OVER (PARTITION BY epoch, hv % 8 ORDER BY hv, doc_id)
        |   AS INTEGER) AS pos
        |FROM h ORDER BY epoch, doc_id""".stripMargin,

    "q_bpe_segment" ->
      s"""WITH $bpeSql,
        |ws AS (SELECT doc_id, wpos,
        |  trim(regexp_replace(replace(s, chr(31), ' '), ' +', ' ', 'g')) AS word_str FROM ap)
        |SELECT doc_id, string_agg(word_str, ' ' ORDER BY wpos) AS subwords_str,
        | CAST(sum(len(string_split(word_str, ' '))) AS INTEGER) AS n_subwords
        |FROM ws GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Exact all-pairs mirror of the incremental probe: a delta doc matches
    // ANY corpus doc, but only SMALLER-ID delta docs; dup_of = min match.
    "q_dedup_incremental" -> incrementalDedupSql(
      "corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)"),

    // q_dedup_incremental against the latest surviving versions of the
    // corpus: %31 docs deleted, %23 docs carry their batch-1 text
    "q_dedup_index_upsert" -> incrementalDedupSql(
      upsertCorpusSql("corpus", scope = Seq("doc_id % 3 <> 0"))),

    // two corpus views of the same stream: the pinned one keeps the %31
    // docs (deleted only after the pin), the live one drops them; both
    // carry the %23 batch-1 (latest) text, which landed before the pin
    "q_dedup_pinned" ->
      s"""WITH ${upsertCorpusSql("corpus1", scope = Seq("doc_id % 3 <> 0"), live = false)},
        |${upsertCorpusSql("corpus2", scope = Seq("doc_id % 3 <> 0"))},
        |${ingestDeltaSql("delta")},
        |${shinglesSql("sh_c1", "corpus1")},
        |${shinglesSql("sh_c2", "corpus2")},
        |${shinglesSql("sh_d", "delta")},
        |${bestMatchSql("1", "sh_c1")},
        |${bestMatchSql("2", "sh_c2")}
        |SELECT 'pinned' AS vw, delta.doc_id AS id, best1.dup_of, best1.jac,
        | best1.dup_of IS NULL AS is_new
        |FROM delta LEFT JOIN best1 ON best1.id = delta.doc_id
        |UNION ALL
        |SELECT 'live' AS vw, delta.doc_id AS id, best2.dup_of, best2.jac,
        | best2.dup_of IS NULL AS is_new
        |FROM delta LEFT JOIN best2 ON best2.id = delta.doc_id
        |ORDER BY vw, id""".stripMargin,

    // IVF probe over the surviving latest-version corpus: %13 vectors
    // gone, %17 vectors reversed (re-assigned from their new direction);
    // queries keep their original values
    "q_ann_index_upsert" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |${reversedSql("corpus", 17, Some(13))},
        |${centSql("base")},
        |${nearestSql("assign", "corpus")},
        |${nearestSql("probes", "base", where = "x.label = 0")},
        |p AS (${bucketCosSql("probes", "assign")})
        |${cosTopKSql(3)}""".stripMargin,

    // Two IVF probes of the same stream: the pinned view sees the
    // as-of-batch-1 corpus (%17 reversed, nothing deleted), the live view
    // the final one (%13 also gone). Queries keep their original values.
    "q_index_pinned" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |${reversedSql("corpus1", 17, None)},
        |${reversedSql("corpus2", 17, Some(13))},
        |${centSql("base")},
        |${nearestSql("assign1", "corpus1")},
        |${nearestSql("assign2", "corpus2")},
        |${nearestSql("probes", "base", where = "x.label = 0")},
        |p AS (${bucketCosSql("probes", "assign1", lead = "'pinned' AS vw, ")}
        | UNION ALL
        | ${bucketCosSql("probes", "assign2", lead = "'live' AS vw, ")})
        |SELECT vw, q_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY vw, q_id ORDER BY cos DESC, neighbor_id) AS rank
        | FROM p)
        |WHERE rank <= 3 ORDER BY vw, q_id, rank""".stripMargin,

    // Nearest-centroid assignment (rounded cosine, ties → smallest
    // centroid), then within-bucket smaller-id pruning at cos >= 0.99.
    "q_semdedup" ->
      s"""WITH ${scaledCopiesSql("e")},
        |${centSql("e")},
        |${nearestSql("assign", "e")},
        |p AS (
        | SELECT a.vec_id, b.vec_id AS b_id,
        |  ${cosSql("a.v", "b.v")} AS pcos
        | FROM assign a JOIN assign b ON a.bucket = b.bucket AND b.vec_id < a.vec_id),
        |best AS (
        | SELECT vec_id, min(b_id) AS dup_of, arg_min(pcos, b_id) AS cos
        | FROM p WHERE pcos >= 0.99 GROUP BY vec_id)
        |SELECT a.vec_id, a.bucket, best.dup_of IS NOT NULL AS is_dup,
        | best.dup_of, best.cos
        |FROM assign a LEFT JOIN best USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // Distinct (source, 3-gram) sets, exact pairwise intersection counts,
    // containment = shared / |grams(a)|.
    "q_source_overlap" ->
      s"""WITH ${shinglesSql("sg", "(SELECT source AS src, text FROM documents)", id = "src")},
        |g0 AS (SELECT src, unnest(shingles) AS gram FROM sg),
        |g AS (SELECT DISTINCT src, gram FROM g0),
        |sizes AS (SELECT src, count(*) AS n FROM g GROUP BY src),
        |sh AS (
        | SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
        | FROM g a JOIN g b ON a.gram = b.gram AND a.src <> b.src
        | GROUP BY 1, 2)
        |SELECT sa.src AS src_a, sb.src AS src_b, sa.n AS grams_a, sb.n AS grams_b,
        | coalesce(sh.shared, 0) AS shared,
        | round(CAST(coalesce(sh.shared, 0) AS DOUBLE) / sa.n, 6) AS containment
        |FROM sizes sa JOIN sizes sb ON sa.src <> sb.src
        |LEFT JOIN sh ON sh.src_a = sa.src AND sh.src_b = sb.src
        |ORDER BY src_a, src_b""".stripMargin,

    // The ingest-day pipeline end-to-end: line dedup over the delta,
    // exact all-pairs probe mirror (vs corpus any, vs smaller-id delta)
    // on the CLEANED text, quality on the cleaned text.
    "q_corpus_pipeline4" ->
      s"""WITH ${ingestDeltaSql("delta0", s"$threeLinesSql AS t")},
        |${lineKeepSql("delta0")},
        |cleaned AS (
        | SELECT d.doc_id AS id, coalesce(agg.txt, '') AS txt,
        |  3 - coalesce(agg.n, 0) AS n_removed
        | FROM delta0 d LEFT JOIN (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
        |   count(*) AS n
        |  FROM keep GROUP BY doc_id) agg ON agg.doc_id = d.doc_id),
        |${shinglesSql("sh_c", "documents WHERE doc_id % 3 <> 0")},
        |${shinglesSql("sh_d", "(SELECT id AS doc_id, txt AS text FROM cleaned)")},
        |${bestMatchSql("", "sh_c")},
        |q AS (SELECT id, ${qualityPartsSql("txt")} FROM cleaned)
        |SELECT c.id AS id, c.n_removed, best.dup_of, best.dup_of IS NULL AS is_new,
        | round($qualityMixSql, 6) AS quality6
        |FROM cleaned c JOIN q ON q.id = c.id LEFT JOIN best ON best.id = c.id
        |ORDER BY c.id""".stripMargin,

    // Keep each line's globally-first (doc_id, pos) occurrence, rebuild
    // docs in position order, empty text when everything lost.
    "q_line_dedup" ->
      s"""WITH d AS (SELECT doc_id, $threeLinesSql AS t FROM documents),
        |${lineKeepSql("d")},
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |  count(*) AS n_lines FROM keep GROUP BY doc_id)
        |SELECT d.doc_id AS id, coalesce(agg.text, '') AS text,
        | coalesce(agg.n_lines, 0) AS n_lines,
        | 3 - coalesce(agg.n_lines, 0) AS n_removed
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY id""".stripMargin,

    "q_chunking" ->
      s"""WITH ${chunksSql("c", "documents", 32, 16)}
        |SELECT doc_id, chunk_id, tok_start, tok_end, chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_chunk_dedup" ->
      s"""WITH d2 AS (SELECT doc_id, '$Banner ' || text AS text FROM documents),
        |${chunksSql("ch", "d2", 16, 8)},
        |w AS (SELECT chunk, min(doc_id * 1048576 + chunk_id) AS wk FROM ch GROUP BY 1)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN doc_id * 1048576 + chunk_id = wk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN doc_id * 1048576 + chunk_id = wk THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS kept_frac
        |FROM ch JOIN w USING (chunk) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_chunk_retrieval" -> chunkRetrievalSql("documents", 101),

    "q_corpus_profile" ->
      s"""WITH t0 AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
        |  ${qualityPartsSql("text")}
        | FROM documents),
        |t AS (SELECT source, n_tokens, $qualityMixSql AS quality FROM t0),
        |per AS (SELECT source, count(*) AS n_docs,
        |  round(avg(n_tokens), 6) AS mean_tokens,
        |  round(coalesce(stddev_samp(n_tokens), 0), 6) AS sd_tokens,
        |  round(avg(quality), 6) AS mean_quality,
        |  round(coalesce(stddev_samp(quality), 0), 6) AS sd_quality
        | FROM t GROUP BY 1),
        |base AS (SELECT
        |  round(avg(n_tokens), 6) AS b_mean_tokens,
        |  round(coalesce(stddev_samp(n_tokens), 0), 6) AS b_sd_tokens,
        |  round(avg(quality), 6) AS b_mean_quality,
        |  round(coalesce(stddev_samp(quality), 0), 6) AS b_sd_quality
        | FROM t)
        |SELECT source, n_docs, mean_tokens, sd_tokens, mean_quality, sd_quality,
        |  round(CASE WHEN b_sd_tokens > 0 THEN abs(mean_tokens - b_mean_tokens) / b_sd_tokens
        |    WHEN abs(mean_tokens - b_mean_tokens) > 0.000002 THEN 'infinity'::DOUBLE ELSE 0 END, 4) AS z_tokens,
        |  round(CASE WHEN b_sd_quality > 0 THEN abs(mean_quality - b_mean_quality) / b_sd_quality
        |    WHEN abs(mean_quality - b_mean_quality) > 0.000002 THEN 'infinity'::DOUBLE ELSE 0 END, 4) AS z_quality,
        |  round(CASE WHEN b_sd_tokens > 0 THEN abs(mean_tokens - b_mean_tokens) / b_sd_tokens
        |    WHEN abs(mean_tokens - b_mean_tokens) > 0.000002 THEN 'infinity'::DOUBLE ELSE 0 END, 4) > 2.0
        |  OR round(CASE WHEN b_sd_quality > 0 THEN abs(mean_quality - b_mean_quality) / b_sd_quality
        |    WHEN abs(mean_quality - b_mean_quality) > 0.000002 THEN 'infinity'::DOUBLE ELSE 0 END, 4) > 2.0 AS drift
        |FROM per CROSS JOIN base ORDER BY source""".stripMargin,

    "q_corpus_pipeline7" ->
      s"""WITH noised AS (SELECT doc_id, source, '$Banner ' || text AS text FROM documents),
        |${chunksSql("ch1", "noised", 16, 8)},
        |w1 AS (SELECT chunk, min(doc_id * 1048576 + chunk_id) AS wk FROM ch1 GROUP BY 1),
        |gatekeep AS (SELECT doc_id FROM ch1 JOIN w1 USING (chunk) GROUP BY doc_id
        | HAVING round(CAST(sum(CASE WHEN doc_id * 1048576 + chunk_id = wk THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 4) >= 0.85),
        |gated AS (SELECT n.* FROM noised n JOIN gatekeep USING (doc_id)),
        |${chunksSql("chunks", "gated", 32, 16)},
        |${probeTermsSql(89, 5, 4)},
        |${bm25Sql("chunks", unit = "ck", text = "chunk")},
        |${perDocSql("scored")},
        |contam AS (SELECT DISTINCT doc_id FROM (
        | SELECT doc_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        | FROM perdoc WHERE rn = 1) WHERE rank <= 3)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_chunk_index_upsert" -> chunkRetrievalSql("d2", 97,
      prelude = upsertCorpusSql("d2", refreshed = truncatedSql) + ",\n"),

    // the chunk-granular hybrid probe must answer exactly like the batch
    // pipeline over the SURVIVING corpus (%31 gone, %23 truncated to 40
    // tokens): chunk BM25 top-20 + chunk-rotated-embedding IVF top-20,
    // RRF at chunk keys, fused top-20, then best-passage doc rollup
    "q_chunk_fused" ->
      s"""WITH ${upsertCorpusSql("d2", refreshed = truncatedSql)},
        |${chunksSql("chunks", "d2", 32, 16)},
        |${probeTermsSql(97, 5, 4, capped = true)},
        |${bm25Sql("chunks", unit = "ck", text = "chunk")},
        |${topKSql("lex", "scored", 20, key = "ck")},
        |base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${centSql("base", capped = true)},
        |cvecs AS (SELECT ch.ck,
        |  list_transform(generate_series(1, len(b.v)),
        |    i -> b.v[((i - 1 + ch.chunk_id) % len(b.v)) + 1]) AS v
        | FROM chunks ch JOIN base b ON ch.doc_id = b.vec_id),
        |${nearestSql("assign", "cvecs", id = "ck")},
        |${nearestSql("vprobes", "base", where = "x.vec_id % 97 = 0 AND x.vec_id < 100000000")},
        |${topKSql("sem", s"(SELECT q.vec_id AS q_id, a.ck, ${cosSql("q.v", "a.v")} AS cos " +
          "FROM vprobes q JOIN assign a ON q.bucket = a.bucket)", 20, key = "ck", by = "cos")},
        |${rrfSql("fchunks", key = "ck")},
        |${perDocSql("fchunks", score = "rrf")}
        |${docTopKSql("rrf")}""".stripMargin,

    "q_bm25_topk" -> bm25TopKSql(probeTermsSql(97, 1, 4), 10),

    "q_bm25_indexed" -> bm25TopKSql(probeTermsSql(89, 1, 5), 7),

    // RRF over the two modality rankings
    "q_retrieval_fused" ->
      s"""WITH ${probeTermsSql(97, 1, 4)},
        |${bm25Sql("documents")},
        |${topKSql("lex", "scored", 10)},
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p2 AS (SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
        |  ${cosSql("q.v", "c.v")} AS cos
        | FROM e q JOIN e c ON q.vec_id <> c.vec_id
        | WHERE q.vec_id % 97 = 0),
        |${topKSql("sem", "p2", 10, by = "cos")},
        |${fusedTopKSql(10)}""".stripMargin,

    // fused live retrieval: BM25 over the surviving text corpus + IVF
    // over the surviving embedding corpus (same %23 update / %31 delete
    // history), RRF over the two top-10 lists
    "q_live_fused" ->
      s"""WITH ${upsertCorpusSql("corpus")},
        |${probeTermsSql(97, 1, 4)},
        |${bm25Sql("corpus")},
        |${topKSql("lex", "scored", 10)},
        |base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${reversedSql("vcorpus", RefreshMod, Some(DeleteMod))},
        |${centSql("base")},
        |${nearestSql("assign", "vcorpus")},
        |${nearestSql("vprobes", "base", where = "x.vec_id % 97 = 0")},
        |p AS (${bucketCosSql("vprobes", "assign")}),
        |${topKSql("sem", "(SELECT q_id, neighbor_id AS doc_id, cos FROM p)", 10, by = "cos")},
        |${fusedTopKSql(10)}""".stripMargin,

    // the live upsert/delete index must answer exactly like BM25 over the
    // SURVIVING corpus: %31 docs gone, %23 docs replaced by their v2 text
    "q_bm25_upsert" -> bm25TopKSql(probeTermsSql(97, 1, 4, refreshedProbe = true), 10,
      src = "corpus", prelude = upsertCorpusSql("corpus") + ",\n"),

    // BM25 twice over the same stream: the pinned view's stats come from
    // the full updated corpus (no deletes), the live view's from the
    // survivors — same scoring arithmetic, different N/avgdl/df.
    "q_bm25_pinned" ->
      s"""WITH ${upsertCorpusSql("corpus1", live = false)},
        |${upsertCorpusSql("corpus2")},
        |${probeTermsSql(97, 1, 4, refreshedProbe = true)},
        |${bm25Sql("corpus1", sfx = "1", lead = Seq("'pinned' AS vw"))},
        |${bm25Sql("corpus2", sfx = "2", lead = Seq("'live' AS vw"))},
        |u AS (SELECT * FROM scored1 UNION ALL SELECT * FROM scored2)
        |SELECT vw, q_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY vw, q_id ORDER BY score DESC, doc_id) AS rank
        | FROM u)
        |WHERE rank <= 10 ORDER BY vw, q_id, rank""".stripMargin,

    "q_gopher_gate" ->
      s"""WITH $gopherSql
        |SELECT doc_id, n_tokens, avg_token_len,
        | round(CAST(top AS DOUBLE) / n_tokens, 4) AS top_frac, n_stopwords,
        | n_tokens BETWEEN 20 AND 100000 AS ok_count,
        | avg_token_len BETWEEN 3.0 AND 10.0 AS ok_len,
        | n_stopwords >= 2 AS ok_stop,
        | round(CAST(top AS DOUBLE) / n_tokens, 4) <= 0.2 AS ok_rep,
        | (n_tokens BETWEEN 20 AND 100000) AND (avg_token_len BETWEEN 3.0 AND 10.0)
        |   AND n_stopwords >= 2
        |   AND round(CAST(top AS DOUBLE) / n_tokens, 4) <= 0.2 AS pass
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_decontam_retrieval" ->
      s"""WITH ${probeTermsSql(163, 1, 6)},
        |${bm25Sql("documents")},
        |hits AS (SELECT q_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        | FROM scored) WHERE rank <= 5),
        |${shinglesSql("sh", "documents", out = "g")}
        |SELECT h.q_id, h.doc_id, h.rank, h.score,
        | round(CAST(len(list_intersect(e.g, c.g)) AS DOUBLE) / len(e.g), 6) AS overlap,
        | round(CAST(len(list_intersect(e.g, c.g)) AS DOUBLE) / len(e.g), 6) >= 0.5
        |   AS contaminated
        |FROM hits h JOIN sh e ON e.doc_id = h.q_id JOIN sh c ON c.doc_id = h.doc_id
        |ORDER BY h.q_id, h.rank""".stripMargin,

    // gate → dual retrieve → RRF → verify, all in one statement; the gate
    // CTEs mirror q_gopher_gate, the retrieval CTEs q_bm25_topk (over the
    // gated corpus), the fusion q_retrieval_fused, the verify
    // q_decontam_retrieval
    "q_corpus_pipeline6" ->
      s"""WITH $gopherSql,
        |gated AS (SELECT doc_id, text FROM documents JOIN gate USING (doc_id)),
        |${probeTermsSql(163, 1, 6)},
        |${bm25Sql("gated")},
        |${topKSql("lex", "scored", 5)},
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | JOIN gate ON gate.doc_id = vec_id),
        |eq AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 163 = 0),
        |p2 AS (SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
        |  ${cosSql("q.v", "c.v")} AS cos
        | FROM eq q JOIN e c ON q.vec_id <> c.vec_id),
        |${topKSql("sem", "p2", 5, by = "cos")},
        |${rrfSql("fused")},
        |hits AS (SELECT q_id, doc_id, rrf, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
        | FROM fused) WHERE rank <= 5),
        |${shinglesSql("sh", "documents", out = "g")}
        |SELECT h.q_id, h.doc_id, h.rank, h.rrf,
        | round(CAST(len(list_intersect(e2.g, c.g)) AS DOUBLE) / len(e2.g), 6) AS overlap,
        | round(CAST(len(list_intersect(e2.g, c.g)) AS DOUBLE) / len(e2.g), 6) >= 0.5
        |   AS contaminated
        |FROM hits h JOIN sh e2 ON e2.doc_id = h.q_id JOIN sh c ON c.doc_id = h.doc_id
        |ORDER BY h.q_id, h.rank""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH RECURSIVE $plantedDupsSql,
        |${clusterLabelsSql("all_docs")},
        |w AS (SELECT id AS doc_id, cluster_root,
        |  round(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
        | FROM lab JOIN sizes USING (cluster_root))
        |SELECT doc_id, cluster_root, weight FROM w
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
        |  < weight * 1000000
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_pipeline5" ->
      s"""WITH RECURSIVE $gopherSql,
        |surv AS (SELECT d.doc_id, d.text, d.source, gate.n_tokens
        | FROM documents d JOIN gate USING (doc_id)),
        |${clusterLabelsSql("surv")},
        |w AS (SELECT id AS doc_id, round(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
        | FROM lab JOIN sizes USING (cluster_root))
        |SELECT source, count(*) AS n_docs, round(sum(weight), 6) AS eff_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | round(sum(weight * n_tokens), 6) AS eff_tokens
        |FROM surv JOIN w USING (doc_id)
        |GROUP BY 1 ORDER BY source""".stripMargin,

    // q_dedup_clusters' exact component oracle, weights instead of drops.
    "q_dedup_softweight" ->
      s"""WITH RECURSIVE $plantedDupsSql,
        |${clusterLabelsSql("all_docs")}
        |SELECT id AS doc_id, cluster_root, cluster_size,
        | round(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
        |FROM lab JOIN sizes USING (cluster_root)
        |ORDER BY doc_id""".stripMargin
  )
}
