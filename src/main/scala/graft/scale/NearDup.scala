package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection at training-corpus scale: MinHash+LSH banding,
  * SimHash with block banding, and an EXACT set-similarity join via prefix
  * filtering. All three follow the same scale discipline: never materialize
  * all pairs — generate candidates through equi-join-able bucket keys
  * (shuffle on bucket), then verify only candidates.
  *
  *  - MinHash-LSH: probabilistic candidate recall; banded signatures make
  *    P(miss | J ≥ t) = (1 - t^r)^b — with r=3, b=32 and t=0.5 that is
  *    < 1e-9 per pair. Candidates are verified with exact Jaccard, so false
  *    positives never escape.
  *  - SimHash: 60-bit signature from md5-derived shingle hashes (md5 so an
  *    external system — and the DuckDB oracle — can reproduce it bit-for-bit).
  *    Block banding is EXACT by pigeonhole: splitting 60 bits into 6 blocks
  *    catches every pair with hamming distance ≤ 5.
  *  - Prefix filter: exact set-similarity join (AllPairs/PPJoin family) —
  *    any pair with J ≥ t must share a token within the first
  *    |X| - ⌈t·|X|⌉ + 1 elements of a canonical global order, so an
  *    equi-join on exploded prefixes loses nothing.
  */
object NearDup {

  /** Distinct k-word shingles from a PRE-STAGED token-array column (stage
    * the tokens as their own projection — see [[shingles]] for why).
    * Documents with fewer than k tokens have NO k-shingles — the guard
    * matters because `sequence(0, size-k)` with a negative end would count
    * DOWN (Spark defaults the step to -1), manufacturing partial shingles
    * from negative indices; a 1-token doc would otherwise claim shingle set
    * ["tok"] and spuriously pair with any doc sharing that token.
    */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(off => get(toks, i + off)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Distinct k-word shingles of a text column. CONVENIENCE FORM for ad-hoc
    * use: Catalyst inlines the `split` into every `get()` of the shingle
    * lambda — k re-tokenizations PER SHINGLE (observed: 6.4s of a 9.2s query
    * at sf0.1 was re-running split). Pipelines stage the token array as its
    * own projected column and call [[shinglesFromTokens]] — CollapseProject
    * keeps a non-cheap alias referenced many times as a separate projection,
    * so the text is tokenized exactly once per row.
    */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromTokens(split(text, " "), k)

  /** Exact Jaccard over two pre-distinct shingle arrays. Empty-set semantics:
    * 0/0 division yields NULL, so a pair where either side has no shingles
    * never passes a `jac >= threshold` filter — sub-k-token documents are
    * deliberately outside near-dup detection (they carry no shingle signal).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) / size(array_union(a, b))

  /** Parallelism for CPU-dense stages. A bare `repartition(col)` is undone
    * by AQE's partition coalescing (these corpora are only MBs — AQE
    * optimizes shuffle bytes, not downstream compute); an EXPLICIT partition
    * count is preserved. Observed: the whole shingle/signature pipeline
    * collapsed onto one core at sf0.1 without this.
    */
  private def fanout(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Shingled docs, redistributed across the cluster: corpus files often
    * arrive as few large (or one small) input splits, which would serialize
    * the CPU-heavy signature math — one narrow shuffle up front buys full
    * parallelism for everything downstream (and pre-clusters by id).
    */
  private def withShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.repartition(fanout(df), col(idCol))
      // Sub-k-token docs can't be near-dups (see jaccard); dropping them also
      // keeps them out of LSH bands, where they would all share the
      // degenerate empty-signature bucket (quadratic candidates). The filter
      // is on the CHEAP token-count predicate, BEFORE shingling: a filter on
      // size(sh) would be pushed below the repartition and re-evaluate the
      // whole shingle pipeline serially on the raw input split.
      .filter(size(split(col(textCol), " ")) >= k)
      .withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol).as("id"), shinglesFromTokens(col("_toks"), k).as("sh"))

  /** Verify candidate (a_id, b_id) pairs with exact Jaccard ≥ threshold. */
  /** Exact-Jaccard verification of candidate pairs. The set elements are
    * xxhash64-compressed to longs first: set sizes (and therefore Jaccard)
    * are unchanged absent a 64-bit collision inside one pair's union
    * (~|union|²/2⁶⁵ ≈ 1e-15 — negligible at any corpus size), and
    * long-array intersection is several times cheaper than re-hashing
    * ~20-char strings per pair.
    */
  private def verifyPairs(candidates: DataFrame, docs: DataFrame,
                          threshold: Double): DataFrame = {
    // cache(): the hashed-set table feeds both join sides, and — without a
    // materialization fence — join constraint propagation pushes
    // isnotnull(<full shingle+hash expression>) below the repartition,
    // re-evaluating the whole pipeline per row on the SERIAL pre-shuffle
    // stage (observed via jstack: ArrayAggregate inside a generated
    // Predicate in stage 1). An InMemoryRelation is both the fence and the
    // single evaluation.
    val hashed = docs.select(col("id"),
      array_distinct(transform(col("sh"), s => xxhash64(s))).as("hsh"))
      .cache()
    val a = hashed.select(col("id").as("a_id"), col("hsh").as("a_sh"))
    val b = hashed.select(col("id").as("b_id"), col("hsh").as("b_sh"))
    candidates
      .repartition(fanout(candidates), col("a_id")) // keep verify math parallel
      .join(a, Seq("a_id")).join(b, Seq("b_id"))
      .withColumn("jac", jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")
  }

  /** MinHash-LSH near-dup join. numHashes = bands * rowsPerBand; signatures
    * come from the native one-pass [[graft.functions.MinHashSig]] expression
    * (the HOF spelling — one interpreted `array_min(transform(...))`
    * traversal PER SLOT — is the operator's hot loop; signatures are
    * internal candidate state and verification is exact Jaccard, so output
    * is hash-agnostic).
    *
    * Signatures are a PER-JOB artifact, not a stable format: the hash
    * family (XXH64+splitmix today, murmur3 before) can change between
    * versions, which silently shifts LSH candidate recall if signatures or
    * band keys are persisted and compared across versions. Never store
    * raw signatures for reuse by a later run — the ONE sanctioned
    * persistence form is the [[buildMinHashIndex]] artifact, whose
    * [[SignatureVersion]] stamp turns cross-version reuse into a loud
    * failure; only the Jaccard-verified output pairs are version-stable.
    */
  def minHashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, bands: Int = 32, rowsPerBand: Int = 3,
                   shingleK: Int = 3): DataFrame = {
    // cache(): feeds both the signature/banding build and the exact verify
    val docs = withShingles(df, idCol, textCol, shingleK).cache()

    val sig = graft.functions.TextHashFunctions.minHashSig(col("sh"), bands * rowsPerBand)
    // cache(): fence + single evaluation of the signature table (see
    // verifyPairs — the bucket self-join would otherwise push the full
    // signature expression into the serial pre-shuffle stage)
    val banded = docs.withColumn("sig", sig)
      .select(col("id"), posexplode(array((0 until bands).map { b =>
        hash((0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r)): _*)
      }: _*)).as(Seq("band", "band_key")))
      .cache()

    // bucket self-join: only docs sharing a (band, band_key) bucket pair up
    val left = banded.select(col("band"), col("band_key"), col("id").as("a_id"))
    val right = banded.select(col("band"), col("band_key"), col("id").as("b_id"))
    val candidates = left.join(right, Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

    verifyPairs(candidates, docs, threshold)
  }

  /** 60-bit SimHash from md5-derived shingle hashes: bit j is set when more
    * than half the shingles have bit j set in their 60-bit hash. md5 (not
    * murmur) so any engine can recompute the signature exactly.
    *
    * Staged as separate projections on purpose: higher-order functions are
    * interpreted (no codegen), and Catalyst would otherwise inline the
    * shingle/md5 subtrees into every consumer — in particular a `size(sh)`
    * nested inside the fold re-evaluates the whole shingle pipeline once PER
    * SHINGLE (quadratic; observed as a single-core multi-minute stall at
    * sf0.1). Each stage below is computed once per row, then referenced as
    * a plain attribute.
    */
  def withSimHash(df: DataFrame, textCol: String, out: String = "simhash",
                  shingleK: Int = 3): DataFrame =
    df.withColumn("_toks", split(col(textCol), " "))
      .withColumn("_sh", shinglesFromTokens(col("_toks"), shingleK))
      .drop("_toks")
      .withColumn("_hashes", transform(col("_sh"), s => Hashing.md5Long60(s)))
      // majority vote fused into the native one-pass expression — the HOF
      // vote (aggregate whose accumulator zip_withs a 60-slot array per
      // element) is value-identical but interpreted
      .withColumn(out, graft.functions.TextHashFunctions.simHashVote(col("_hashes")))
      .drop("_sh", "_hashes")

  /** SimHash near-dup join: block banding (exact for hamming < blocks by
    * pigeonhole), then exact hamming verification via bit_count(xor).
    * Default 4 blocks of 15 bits: same-corpus signatures cluster around the
    * vocabulary's centroid signature, so SMALL blocks collide en masse
    * (observed: 10-bit blocks → tens of millions of candidate pairs at 5k
    * docs); 15-bit blocks keep the pigeonhole guarantee for hamming ≤ 3
    * while being ~32× more selective.
    */
  def simHashDedup(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, blocks: Int = 4,
                   shingleK: Int = 3): DataFrame = {
    require(maxHamming < blocks, "pigeonhole exactness needs maxHamming < blocks")
    val bitsPerBlock = 60 / blocks
    val mask = (1L << bitsPerBlock) - 1
    // cache(): fence + single evaluation (see verifyPairs for the pathology)
    // Sub-k-token docs are excluded up front: they have no shingles, so all
    // of them would share the degenerate all-zero signature and pair up
    // quadratically while carrying no similarity signal.
    val docs = withSimHash(
      df.repartition(fanout(df), col(idCol)).select(col(idCol).as("id"), col(textCol))
        .filter(size(split(col(textCol), " ")) >= shingleK),
      textCol, "sim", shingleK).select("id", "sim")
      .cache()

    val banded = docs.select(col("id"), col("sim"),
      posexplode(array((0 until blocks).map { b =>
        shiftright(col("sim"), b * bitsPerBlock).bitwiseAND(lit(mask))
      }: _*)).as(Seq("block", "block_key")))

    val left = banded.select(col("block"), col("block_key"),
      col("id").as("a_id"), col("sim").as("a_sim"))
    val right = banded.select(col("block"), col("block_key"),
      col("id").as("b_id"), col("sim").as("b_sim"))
    left.join(right, Seq("block", "block_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup CLUSTER resolution — the step after any pairwise similarity
    * join: pairs only say "a looks like b"; retention needs one canonical
    * document per connected component (a~b, b~c ⇒ {a,b,c} keep one).
    * Min-label propagation to a fixpoint: every node adopts the smallest id
    * reachable so far, iterated until no label changes. Rounds needed =
    * graph diameter; near-dup components are cliques or short chains
    * (diameter ≤ ~3), so the loop is 2-4 rounds of one join + one groupBy
    * each — the standard Spark iterative-graph pattern. For adversarial
    * long-chain graphs at cluster scale use [[clusterPairsLargeGraph]]
    * (large-star/small-star contraction, O(log n) rounds, same per-round
    * shape and output contract).
    *
    * Returns one row per input id: (id, cluster_root, is_canonical) with
    * `cluster_root` = min id of the component and singletons their own root.
    */
  def clusterPairs(ids: DataFrame, pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // symmetric edge list: labels must flow against the a<b pair orientation
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .cache()
    var labels = ids.select(col("id"), col("id").as("root")).cache()
    // Fixpoint test for integral ids: labels are MONOTONE NON-INCREASING
    // under min-propagation, so "no label shrank" ⟺ the (row count, exact
    // sum of roots) pair is unchanged — one cheap aggregate per round that
    // doubles as the round's cache materialization, replacing the former
    // join-with-previous + limit(1) probe job (r14 stage profile: the probe
    // machinery cost ~0.4 s/round of pure scheduling on MB-sized labels).
    // The decimal sum is exact and order-independent (no float drift; no
    // long overflow for any realistic id space). Non-integral ids (the
    // operator accepts any orderable id) keep the join probe — a string
    // root has no exact sum.
    val integral = integralRoot(labels)
    def stamp(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("root").cast(DecimalType(38, 0)))).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    var prev = if (integral) stamp(labels) else null
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("root"))
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("root").as("root"))
        .cache()
      if (integral) {
        val cur = stamp(next)
        converged = cur == prev
        prev = cur
      } else
        // fixpoint test: did ANY label shrink this round? (limit(1) stops
        // the scan at the first change; one tiny job per round)
        converged = next.join(labels.withColumnRenamed("root", "prev"), Seq("id"))
          .filter(col("root") < col("prev")).limit(1).isEmpty
      labels.unpersist()
      labels = next
      round += 1
    }
    edges.unpersist()
    labels.withColumn("is_canonical", col("id") === col("root"))
      .withColumnRenamed("root", "cluster_root")
  }

  /** True iff the label frame's `root` column is an integral type whose
    * sum-of-roots fixpoint stamp is exact (see [[clusterPairs]]).
    */
  private def integralRoot(labels: DataFrame): Boolean =
    labels.schema("root").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** [[clusterPairs]]'s adversarial-graph counterpart: connected components
    * via alternating large-star/small-star contraction (the two-operation
    * MapReduce CC algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — O(log n) rounds on ANY graph shape, where
    * min-label propagation needs diameter rounds (a 10k-link chain of
    * near-dups would take 10k propagation rounds but ~log₂(10k) ≈ 14
    * contractions). Same per-round plan shape: one aggregate + one join.
    *
    *  - large-star: every node links its STRICTLY LARGER neighbors to the
    *    minimum of its closed neighborhood — components contract downward
    *    without ever creating an upward edge (no cycles).
    *  - small-star: every node links its not-larger neighbors and itself
    *    to that minimum — flattens the trees large-star built.
    *
    * Fixpoint = the edge set stops changing; the graph is then a union of
    * stars centered at each component's minimum id. Output contract is
    * identical to [[clusterPairs]]: (id, cluster_root, is_canonical), one
    * row per input id, singletons their own root.
    */
  def clusterPairsLargeGraph(ids: DataFrame, pairs: DataFrame,
                             maxRounds: Int = 40): DataFrame = {
    // Canonical (big, small) orientation; self-pairs contribute nothing.
    // Each round ends in an EAGER localCheckpoint — the standard lineage
    // fence for iterative graph algorithms, and here it is load-bearing
    // twice over: (a) the convergence probe alone is limit-1 and would
    // materialize only the partitions it touched, leaving later rounds to
    // recompute through r-deep lineage; (b) every round references the
    // previous round's frame TWICE (the symmetric union + the probe), so
    // an uncheckpointed plan is a shared DAG whose per-action string
    // rendering (SQL-listener plan descriptions) expands to 2^rounds
    // nodes — measured as minutes of driver CPU inside generateTreeString
    // by round ~8. A LogicalRDD leaf keeps every round's plan constant
    // size. Superseded rounds' blocks are reclaimed by the ContextCleaner
    // once their frames go out of scope.
    var edges = pairs
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var round = 0
    while (!converged && round < maxRounds) {
      // ---- large-star: over the SYMMETRIC neighbor view ----
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      // emit {v, m(u)} for v > u: m ≤ u < v keeps the (big, small) orientation
      val ls = sym.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // ---- small-star: ls is (big, small)-oriented, so grouping by u sees
      // exactly the not-larger neighbors ----
      val mins2 = ls.groupBy("u").agg(min("v").as("m")) // all v < u ⇒ min(N∪{u}) = min(v)
      val next = ls.join(mins2, Seq("u"))
        .select(explode(array(
          struct(col("v").as("x"), col("m").as("y")), // small neighbor → m
          struct(col("u").as("x"), col("m").as("y")))) // u itself → m
          .as("e"))
        .select(col("e.x").as("u"), col("e.y").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true) // lineage fence — see the header comment
      val nextCount = next.count()
      // fixpoint: same cardinality AND no edge outside the old set ⇒ the
      // distinct edge sets are equal (one anti-join probe, limit-1)
      converged = nextCount == edgeCount &&
        next.exceptAll(edges).limit(1).isEmpty
      edges = next
      edgeCount = nextCount
      round += 1
    }
    // at the star fixpoint every edge is (member, component-min)
    val roots = edges.groupBy("u").agg(min("v").as("root"))
    val out = ids.join(roots, ids("id") === roots("u"), "left")
      .select(col("id"),
        coalesce(col("root"), col("id")).as("cluster_root"))
      .withColumn("is_canonical", col("id") === col("cluster_root"))
    out
  }

  /** Priority-aware canonical selection — the retention policy real
    * curation pipelines apply AFTER clustering: within each near-dup
    * cluster keep the copy from the most-trusted source, not the one with
    * the smallest id ([[clusterPairs]]'s `is_canonical` is only a default).
    * Winner per cluster = first by (priorityCol ASC, sizeCol DESC, id ASC)
    * — lower priority value = more trusted, longer document preferred on
    * ties, id as the final deterministic tiebreak.
    *
    * One shuffle: a window partitioned by `cluster_root` (clusters are
    * near-dup components — bounded fan-in, no skew concern; the window
    * frame for `first` spans from the partition start, so every member row
    * reads the winner without a groupBy + join-back second shuffle).
    *
    * Input: `labels` = (idCol, cluster_root) from either clustering
    * routine; `attrs` = one row per id carrying the ranking columns.
    * Output: one row per id — (idCol, cluster_root, keep_id, is_kept).
    */
  def resolveCanonical(labels: DataFrame, attrs: DataFrame, idCol: String,
                       priorityCol: String, sizeCol: String): DataFrame = {
    // LEFT join: an id missing from `attrs` must not vanish from the
    // output (the operator's contract is one row per labeled id) — it
    // ranks last instead (NULL priority after every real priority, NULL
    // size after every real size), so it can win only a cluster where no
    // member carries attributes.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_root")
      .orderBy(col(priorityCol).asc_nulls_last, col(sizeCol).desc_nulls_last,
        col(idCol).asc)
    labels.select(col(idCol), col("cluster_root"))
      .join(attrs, Seq(idCol), "left")
      .withColumn("keep_id", first(col(idCol)).over(w))
      .withColumn("is_kept", col(idCol) === col("keep_id"))
      .select(col(idCol), col("cluster_root"), col("keep_id"), col("is_kept"))
  }

  /** SOFT dedup: keep every member but down-weight it by its duplicate
    * cluster's size — `weight = 1/cluster_size` — so a document duplicated
    * n times contributes one document's worth of expected training mass
    * under weighted sampling (the keep-and-reweight alternative to hard
    * removal when duplicates carry signal, e.g. popularity).
    *
    * Default plan — one shuffle: a count window partitioned by
    * `cluster_root` — the [[resolveCanonical]] shape; no groupBy +
    * join-back, so the cluster dimension never needs to broadcast (at
    * corpus scale it is corpus-sized: most clusters are singletons).
    *
    * `skewSafe = true` — two shuffles, but every stage splits under a
    * pathological MEGA-cluster (millions of copies of one page; real
    * crawls produce these). The window funnels a cluster's every row into
    * ONE task and AQE cannot split a window partition; the alternative
    * counts via groupBy (map-side combine: the hot cluster's rows
    * pre-aggregate inside each map task, so the shuffle carries partial
    * counts, not rows) and joins the size back on `cluster_root` (a
    * shuffle join AQE's skew-join CAN split, duplicating the 1-row build
    * side). Same output bit-for-bit (NearDupSpec pins it); choose it when
    * the label distribution is not singleton-dominated.
    *
    * Input: `labels` = (id, cluster_root) from either clustering routine.
    * Output: (id, cluster_root, cluster_size, weight).
    */
  def softDedupWeights(labels: DataFrame, skewSafe: Boolean = false): DataFrame = {
    val ids = labels.select(col("id"), col("cluster_root"))
    val sized =
      if (skewSafe) {
        val sizes = ids.groupBy("cluster_root")
          .agg(count(lit(1)).as("cluster_size"))
        ids.join(sizes, Seq("cluster_root")).select(
          col("id"), col("cluster_root"), col("cluster_size"))
      } else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_root")
        ids.withColumn("cluster_size", count(lit(1)).over(w))
      }
    sized.withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
  }

  /** EXACT n-gram-Jaccard similarity join via prefix filtering: canonical
    * (lexicographic) global order; a doc's prefix is its first
    * |sh| - ⌈t·|sh|⌉ + 1 sorted shingles; qualifying pairs must share a
    * prefix shingle, so the exploded-prefix equi-join is lossless.
    */
  def ngramJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleK: Int = 3): DataFrame = {
    // cache(): the shingled table feeds THREE consumers (global frequency,
    // prefix build, exact verification) — without the fence each re-runs
    // the repartition + shingle pipeline from the raw corpus.
    val docs = withShingles(df, idCol, textCol, shingleK).cache()

    // Canonical global order is RAREST-FIRST (global shingle frequency, ties
    // by shingle): common shingles — which would pair everything with
    // everything — land in suffixes and never generate candidates. A
    // lexicographic order degenerates to near-all-pairs on small-vocabulary
    // corpora. The frequency table is ≤ |vocabulary|^k rows → broadcast.
    val freq = docs.select(explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))

    val prefixes = docs.select(col("id"), explode(col("sh")).as("tok"))
      .join(broadcast(freq), Seq("tok"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("f"), col("tok")))).as("ranked"),
        count(lit(1)).as("n"))
      .withColumn("plen",
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast(IntegerType))
      .select(col("id"), col("n"),
        explode(slice(col("ranked"), lit(1), col("plen"))).as("p"))
      .select(col("id"), col("n"), col("p.tok").as("tok"))
      .cache() // fence + single evaluation for the self-join below

    // length filter: J ≥ t implies t·|A| ≤ |B| ≤ |A|/t — prune before verify
    val candidates = prefixes
      .select(col("tok"), col("id").as("a_id"), col("n").as("a_n"))
      .join(prefixes.select(col("tok"), col("id").as("b_id"), col("n").as("b_n")),
        Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("b_n") >= col("a_n") * threshold &&
              col("a_n") >= col("b_n") * threshold)
      .select("a_id", "b_id").distinct()

    verifyPairs(candidates, docs, threshold)
  }

  /** Version stamp of persisted MinHash index artifacts. The hash family is
    * an implementation detail (murmur3 was v1; XXH64+splitmix signatures +
    * murmur3 band keys are v2) — comparing band keys built by different
    * versions silently destroys LSH recall, so [[incrementalMinHashDedup]]
    * refuses (raise_error, first batch) any index row whose stamp differs
    * instead of returning confidently wrong verdicts. Bump this whenever
    * [[graft.functions.MinHashSig]], the band hash, or the shingle scheme
    * changes; existing indexes must then be rebuilt.
    */
  val SignatureVersion = 2

  /** Persisted LSH index of a corpus, for incremental (delta-vs-corpus)
    * near-dedup: one row per document — (id, band_keys: array<int>,
    * hsh: array<long>, sig_v). `band_keys` are the LSH bucket keys
    * (candidate generation), `hsh` the xxhash64-compressed shingle set
    * (exact-Jaccard verification — same compression as the batch path,
    * collision odds ~1e-15 per pair). Write it out bucketed/partitioned by
    * `id` next to the corpus; at 100 TB the index is ~1% of corpus bytes
    * (32 ints + ~|shingles| longs per doc, no text).
    */
  def buildMinHashIndex(df: DataFrame, idCol: String, textCol: String,
                        bands: Int = 32, rowsPerBand: Int = 3,
                        shingleK: Int = 3): DataFrame = {
    require(bands > 0 && rowsPerBand > 0 && shingleK > 0,
      "bands, rowsPerBand, and shingleK must be positive")
    val sig = graft.functions.TextHashFunctions.minHashSig(col("sh"), bands * rowsPerBand)
    // sig is staged via withColumn: CollapseProject keeps a non-cheap alias
    // referenced bands×rowsPerBand times as its own projection, so the
    // signature is computed once per row (same discipline as minHashDedup).
    withShingles(df, idCol, textCol, shingleK)
      .withColumn("sig", sig)
      .select(col("id"),
        array((0 until bands).map { b =>
          hash((0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r)): _*)
        }: _*).as("band_keys"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("hsh"),
        lit(SignatureVersion).as("sig_v"))
  }

  /** Incremental near-dedup: verdict for every delta document against an
    * already-indexed corpus ([[buildMinHashIndex]]) WITHOUT rescanning the
    * corpus — the daily-ingest shape at 100 TB (index the corpus once,
    * probe it with each arriving delta, append the survivors' index rows).
    *
    * A delta document is a duplicate iff a corpus document OR an earlier
    * (smaller-id) delta document matches at exact Jaccard ≥ `threshold`
    * among LSH candidates (recall as in [[minHashDedup]]). Ids must be
    * globally unique across corpus and delta.
    *
    * Scale shape: the delta's exploded band keys are BROADCAST into the
    * index probe, so the corpus-sized index is scanned once and never
    * shuffled; verification joins the (small) candidate set back to index
    * rows by id with the candidate side broadcast — again no corpus
    * shuffle. Only delta-sized state moves. The delta-internal self-join
    * is the batch path in miniature.
    *
    * Output: one row per delta document — (id, dup_of, jac, is_new) with
    * `dup_of` = smallest matching id (NULL when new). Update the index
    * with `index.unionByName(buildMinHashIndex(survivors))` afterwards.
    */
  def incrementalMinHashDedup(index: DataFrame, delta: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double = 0.7, bands: Int = 32,
                              rowsPerBand: Int = 3, shingleK: Int = 3): DataFrame = {
    // cache(): the delta index feeds candidate generation AND both verify
    // joins — the fence keeps the signature math single-evaluation.
    val dIdx = buildMinHashIndex(delta, idCol, textCol, bands, rowsPerBand, shingleK)
      .cache()

    // Version guard rides the band projection (a pruned-away check column
    // would be optimized out): any mismatched row fails the whole job.
    val guardedBands = when(col("sig_v") === lit(SignatureVersion), col("band_keys"))
      .otherwise(raise_error(concat(
        lit("MinHash index has signature version "), col("sig_v").cast(StringType),
        lit(s", this library writes v$SignatureVersion — rebuild the index"))))
    val cBands = index.select(col("id").as("c_id"),
      posexplode(guardedBands).as(Seq("band", "band_key")))
    val dBands = dIdx.select(col("id").as("d_id"),
      posexplode(col("band_keys")).as(Seq("band", "band_key")))

    // Corpus candidates: broadcast the delta bands — the index side streams.
    val corpusCand = cBands.join(broadcast(dBands), Seq("band", "band_key"))
      .select("d_id", "c_id").distinct()
    // Verify: candidate ids (small) broadcast into the index by id — the
    // only corpus touch besides the band scan; delta sets ride broadcast.
    val corpusVerified = index
      .select(col("id").as("c_id"), col("hsh").as("c_hsh"))
      .join(broadcast(corpusCand), Seq("c_id"))
      .join(broadcast(dIdx.select(col("id").as("d_id"), col("hsh").as("d_hsh"))), Seq("d_id"))
      .withColumn("jac", jaccard(col("d_hsh"), col("c_hsh")))
      .filter(col("jac") >= threshold)
      .select(col("d_id"), col("c_id").as("other_id"), col("jac"))

    // Delta-internal: earlier (smaller-id) delta doc wins, later one is dup.
    val dd = dBands.select(col("band"), col("band_key"), col("d_id").as("a_id"))
      .join(dBands.select(col("band"), col("band_key"), col("d_id").as("b_id")),
        Seq("band", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val deltaVerified = dd
      .join(dIdx.select(col("id").as("a_id"), col("hsh").as("a_hsh")), Seq("a_id"))
      .join(dIdx.select(col("id").as("b_id"), col("hsh").as("b_hsh")), Seq("b_id"))
      .withColumn("jac", jaccard(col("a_hsh"), col("b_hsh")))
      .filter(col("jac") >= threshold)
      .select(col("b_id").as("d_id"), col("a_id").as("other_id"), col("jac"))

    val best = corpusVerified.unionByName(deltaVerified)
      .groupBy(col("d_id").as("id"))
      .agg(min(col("other_id")).as("dup_of"),
        min_by(col("jac"), col("other_id")).as("jac"))
    delta.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .withColumn("is_new", col("dup_of").isNull)
      .select("id", "dup_of", "jac", "is_new")
  }
}
