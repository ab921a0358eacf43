package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Regression guards on the PHYSICAL-PLAN properties the 100 TB story rests
  * on. Correctness gates can't see these — a plan that silently stops
  * pushing filters, broadcasting the dim side, or reusing the join exchange
  * still returns the right rows, just 10-100× slower at scale. Plan shape
  * is sf-independent, so the toy SF is fine.
  */
class PlanShapeSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def formattedPlan(df: DataFrame): String = {
    df.collect() // settle AQE's final plan
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** The settled FINAL physical plan only (explainString renders the
    * pre-AQE initial plan too, which double-counts nodes).
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("q_proj_filter: predicates reach the parquet scan, columns pruned") {
    val plan = formattedPlan(q("q_proj_filter"))
    plan should include("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_quantity), " +
      "EqualTo(l_returnflag,R), GreaterThan(l_quantity,30.0)]")
    // projection pruning: the 6 referenced columns only, not the full table
    plan should include("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double,l_returnflag:string>")
  }

  test("q_topk_orders: top-k is TakeOrderedAndProject, not a global sort") {
    val plan = formattedPlan(q("q_topk_orders"))
    plan should include("TakeOrderedAndProject")
    // and the scan reads only the 3 projected columns
    plan should include(
      "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderpriority:string>")
  }

  test("q_broadcast_enrich: the dimension side broadcasts") {
    formattedPlan(q("q_broadcast_enrich")) should include("BroadcastHashJoin")
  }

  test("q_denorm_orders_lines: groupBy reuses the join's exchange (one shuffle per side)") {
    // At this toy SF the planner broadcasts the lines side (which has no
    // key partitioning to reuse); force the sort-merge path the query takes
    // at real scale, where exchange reuse is the property that matters.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try finalPlan(q("q_denorm_orders_lines"))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // join on o_orderkey partitions both sides; grouping by (o_orderkey, …)
    // is satisfied by HashPartitioning(o_orderkey) and must NOT re-shuffle:
    // 2 join-input exchanges + the final ordered() single-partition
    // exchange = 3 total.
    withClue(plan.linesIterator.filter(_.contains("Exchange")).mkString("\n") + "\n") {
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
      "Exchange SinglePartition".r.findAllIn(plan).size shouldBe 1
    }
  }

  test("q_corpus_pipeline: five composed stages cost exactly two data shuffles") {
    // clean → quality gate → exact dedup → rebalance → pack: everything is
    // narrow except the dedup groupBy (fingerprint) and the pack window
    // (source). The canon table rides a broadcast at this size (AQE/size
    // estimate decides; at 100 TB it becomes a sort-merge join on the same
    // key), and the trailing SinglePartition exchange is the oracle-ordering
    // harness, not pipeline cost.
    val plan = finalPlan(q("q_corpus_pipeline"))
    val dataShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    withClue(plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")) {
      dataShuffles shouldBe 2
    }
  }

  test("q_corpus_pipeline3: model gate -> dedup -> domain cap -> shuffle, broadcast joins only") {
    // classifier featurize (doc,feature) + score (doc) aggs, dedup
    // fingerprint agg, cap window (source), order window (shard) — six
    // keyed exchanges plus one ReusedExchange; every doc-spine join rides
    // a broadcast (the model and canon tables are dimension-sized), and no
    // sort-merge join may appear at fixture scale.
    val plan = finalPlan(q("q_corpus_pipeline3"))
    val dataShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    withClue(plan.linesIterator.filter(l =>
      l.contains("Exchange") || l.contains("Join")).mkString("\n")) {
      dataShuffles shouldBe 7 // 6 live + 1 ReusedExchange reference
      plan should include("ReusedExchange")
      plan should not include "SortMergeJoin"
    }
  }

  test("q_asof_enrich: the as-of lookup is one keyed shuffle + window, no join node") {
    // the whole point of the union+window formulation: a range join would
    // plan a join with O(probes × versions) output per key
    val plan = finalPlan(q("q_asof_enrich"))
    val dataShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    withClue(plan.linesIterator.filter(l =>
      l.contains("Exchange") || l.contains("Join")).mkString("\n")) {
      dataShuffles shouldBe 1
      plan should not include "Join"
      plan should include("Window")
    }
  }

  test("q_window_agg: partial aggregation before the shuffle") {
    val plan = formattedPlan(q("q_window_agg"))
    // two HashAggregates (partial + final) around one agg exchange: the
    // map-side combine that bounds shuffle volume by group cardinality
    "HashAggregate".r.findAllIn(plan).size should be >= 2
    plan should include("PushedFilters: [IsNotNull(ts)]")
  }

  test("q_range_join: the range predicate rides a hash join, not a nested loop") {
    val plan = finalPlan(q("q_range_join"))
    withClue(plan.linesIterator.filter(_.contains("Join")).mkString("\n")) {
      plan should not include "NestedLoop"
      plan should not include "CartesianProduct"
      // the bin key makes it an equi-join (broadcast at this SF; sort-merge
      // hash at scale) with the exact bounds as residual condition
      plan should include("Join")
    }
  }

  test("kmvDistinct: one exchange, ObjectHashAggregate partials both sides of it") {
    val df = graft.scale.Sketches.kmvDistinct(
      Tables.events(spark, sf), Seq("event_type"), "user_id", 64)
    val plan = finalPlan(df)
    withClue(plan) {
      // the sketch is a TypedImperativeAggregate → ObjectHashAggregate with
      // a map-side partial, so the shuffle carries ≤k longs per group — the
      // property that makes a 100 TB distinct-count one cheap pass
      "ObjectHashAggregate".r.findAllIn(plan).size should be >= 2
      plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    }
  }

  test("unigramNll: the token-count model broadcasts; no sort-merge join") {
    val df = graft.scale.LangModel.unigramNll(
      Tables.documents(spark, sf).select("doc_id", "text"), "doc_id", "text")
    val plan = finalPlan(df)
    withClue(plan.linesIterator.filter(_.contains("Join")).mkString("\n")) {
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
      plan should not include "CartesianProduct" // the 1-row total is BroadcastNestedLoop
    }
  }

  test("q_decontaminate: per-doc aggregate reuses the explicit repartition") {
    val plan = finalPlan(q("q_decontaminate"))
    withClue(plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")) {
      // the eval gram set rides a broadcast off its cache fence, and the
      // planner must not ADD any doc_id shuffle beyond the one explicit
      // repartition (ENSURE_REQUIREMENTS on doc_id would mean the final
      // aggregate stopped reusing it — a second pass over the train side)
      plan should include("BroadcastHashJoin")
      plan should include("InMemoryTableScan")
      plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(doc_id") &&
          l.contains("ENSURE_REQUIREMENTS")) shouldBe 0
    }
  }

  test("cms: build partial-aggregates map-side; the probe side broadcasts the sketch") {
    import org.apache.spark.sql.functions.{col, explode}
    val toks = Tables.documents(spark, sf)
      .select(explode(graft.scale.TextOps.tokens(col("text"))).as("token"))
    val sketch = graft.scale.Sketches.cmsBuild(toks, "token", 4, 1024)
    val buildPlan = finalPlan(sketch)
    withClue(buildPlan) {
      // partial + final HashAggregate around ONE exchange: the shuffle
      // carries at most d·w pre-combined bucket counts, not d rows per token
      "HashAggregate".r.findAllIn(buildPlan).size should be >= 2
      buildPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    }
    val probePlan = finalPlan(graft.scale.Sketches.cmsLookup(
      sketch, toks.distinct(), "token", 4, 1024))
    withClue(probePlan) {
      probePlan should include("BroadcastHashJoin") // d·w rows ride the broadcast
      probePlan should not include "SortMergeJoin"
    }
  }

  test("q_corpus_pipeline2: the packing window reuses the epoch window's shard exchange") {
    val plan = finalPlan(q("q_corpus_pipeline2"))
    withClue(plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")) {
      // epoch shuffle partitions by shard; packChunks then windows by the
      // SAME shard key — a second hashpartitioning(shard) exchange would
      // mean the composition re-shuffles data it already co-located
      plan.linesIterator.count(_.contains("Exchange hashpartitioning(shard")) shouldBe 1
      plan should not include "Exchange rangepartitioning"
    }
  }

  test("epochShuffle: one hash exchange on shard, no global sort") {
    val df = graft.scale.Sampling.epochShuffle(
      Tables.documents(spark, sf).select("doc_id"), "doc_id", epoch = 1, nShards = 8)
    val plan = finalPlan(df)
    withClue(plan) {
      // the permutation is per-shard: a window behind ONE hash exchange;
      // a rangepartitioning exchange would mean a global sort crept in
      plan.linesIterator.count(_.contains("Exchange hashpartitioning(shard")) shouldBe 1
      plan should not include "Exchange rangepartitioning"
    }
  }

  /** Subtrees (as joined text) of every node whose name starts with
    * `nodeName`, parsed from a treeString: a child line's marker sits
    * strictly deeper than its parent's, so a subtree runs until the first
    * line at the parent's depth or shallower.
    */
  private def subtrees(plan: String, nodeName: String): Seq[String] = {
    val lines = plan.linesIterator.toVector
    def pos(l: String): Int = {
      val i = l.indexWhere(c => !" :+-|".contains(c)); if (i < 0) l.length else i
    }
    lines.indices.collect {
      case i if {
        val c = lines(i).substring(pos(lines(i)))
        c.startsWith(nodeName) || c.matches(raw"\*\(\d+\) \Q$nodeName\E.*")
      } =>
        (lines(i) +: lines.drop(i + 1).takeWhile(l => pos(l) > pos(lines(i))))
          .mkString("\n")
    }
  }

  test("incremental dedup probe: the parquet-backed index is never shuffled or broadcast") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("mh_index_plan").toString
    graft.scale.NearDup.buildMinHashIndex(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text").write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    val probe = graft.scale.NearDup.incrementalMinHashDedup(index,
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val plan = finalPlan(probe)
    withClue(plan) {
      // the corpus-sized index streams through broadcast joins: a sort-merge
      // or shuffled-hash join would mean the explicit hints stopped holding
      plan should not include "SortMergeJoin"
      plan should not include "ShuffledHashJoin"
      // both probe paths (band scan + verify-by-id scan) read the index
      plan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains(idxDir)) shouldBe 2
      // and index rows never cross an exchange raw: every exchange whose
      // lineage touches the index must sit ABOVE the broadcast join that
      // reduced it to candidate-sized state (a raw-index exchange — the
      // sort-merge regression — would have no join below it)
      (subtrees(plan, "Exchange") ++ subtrees(plan, "BroadcastExchange"))
        .filter(_.contains(idxDir))
        .foreach(s => s should include("BroadcastHashJoin"))
    }
  }

  test("dedupLines: winner via partial-aggregated min, no line-partitioned window") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val three = concat_ws("\n", lit("boiler"), col("text"), col("lang"))
    val df = graft.scale.TextOps.dedupLines(
      Tables.documents(spark, sf).select(col("doc_id"), three.as("text")),
      "doc_id", "text")
    val plan = finalPlan(df)
    withClue(plan) {
      // the hot-boilerplate skew trap: a window partitioned by line would
      // move every copy of a shared line into one partition
      plan should not include "Window"
      // instead the per-line winner must partial-aggregate map-side, so a
      // hot line collapses to one row per task before the shuffle
      plan.linesIterator.count(l =>
        l.contains("partial_min") || l.contains("partial min")) should be >= 1
    }
  }

  test("semDedup: centroids ride broadcast; the corpus is never broadcast") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val sd = graft.scale.Similarity.semDedup(e,
      e.filter(col("vec_id") % 10 === 3), threshold = 0.99)
    val plan = finalPlan(sd)
    withClue(plan) {
      val bcasts = subtrees(plan, "BroadcastExchange")
        .filter(_.contains("embeddings.parquet"))
      bcasts should not be empty
      // every broadcast subtree that scans embeddings is the centroid
      // slice — broadcasting the corpus side would OOM the driver at scale
      bcasts.foreach(s => s should include("% 10) = 3"))
    }
  }

  test("chunk-index probe: postings reduce via broadcast before any exchange; stats pass is column-pruned") {
    import org.apache.spark.sql.functions.{array_distinct, col, explode, lit, slice, split}
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("chunk_index_plan").toString
    graft.streaming.StreamingChunkIndex.processBatch(
      docs.withColumn("op", lit("u")), 0L, idxDir, window = 32, stride = 16,
      opCol = Some("op"))
    val probes = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 5, 4))).as("term"))
    val plan = finalPlan(graft.streaming.StreamingChunkIndex.chunkTopKLiveDocs(
      spark, idxDir, probes, "q_id", "term", kChunks = 20, kDocs = 5))
    withClue(plan) {
      // every exchange whose lineage reads the index either sits above the
      // broadcast token reduction (candidate-sized rows) or belongs to the
      // doc-level stats pass — which must scan WITHOUT the token/tf
      // columns (a full-schema stats scan would shuffle the postings raw)
      (subtrees(plan, "Exchange") ++ subtrees(plan, "BroadcastExchange"))
        .filter(_.contains(idxDir))
        .foreach { s =>
          if (!s.contains("BroadcastHashJoin"))
            s.linesIterator
              .filter(l => l.contains("FileScan") && l.contains(idxDir))
              .foreach(l => l should not include "token")
        }
      // the index side of the token reduction is streamed, never broadcast:
      // broadcasts carry only probe terms or churn-sized liveness tables
      subtrees(plan, "BroadcastExchange")
        .filter(_.contains(idxDir))
        .foreach(s => s.linesIterator
          .filter(l => l.contains("FileScan") && l.contains(idxDir))
          .foreach(l => l should not include "token"))
    }
  }

  test("chunkDocuments: map-only — zero exchanges, one codegen span") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val plan = finalPlan(graft.scale.Chunking.chunkDocuments(
      docs, "doc_id", "text", 32, 16))
    withClue(plan) {
      plan should not include "Exchange"
      // the whole explode+slice chain fuses into a single codegen stage
      plan.linesIterator.count(_.contains("*(2)")) shouldBe 0
    }
  }

  test("fused chunk probe: no sort-merge anywhere; vectors and tokens never ride a broadcast") {
    import org.apache.spark.sql.functions.{array_distinct, col, element_at, explode, lit, sequence, slice, split, transform}
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val lexDir = java.nio.file.Files.createTempDirectory("fused_lex_plan").toString
    val vecDir = java.nio.file.Files.createTempDirectory("fused_vec_plan").toString
    graft.streaming.StreamingChunkIndex.processBatch(
      docs.withColumn("op", lit("u")), 0L, lexDir, window = 32, stride = 16,
      opCol = Some("op"))
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val centroids = e.filter(col("vec_id") % 10 === 3)
    val chunkVecs = graft.scale.Chunking.chunkDocuments(docs, "doc_id", "text", 32, 16)
      .join(e, col("doc_id") === col("vec_id"))
      .select(graft.scale.Chunking.chunkKey(col("doc_id"), col("chunk_id")).as("ck"),
        col("doc_id"),
        transform(sequence(lit(0),
            org.apache.spark.sql.functions.size(col("embedding")) - 1),
          i => element_at(col("embedding"),
            ((i + col("chunk_id")) %
              org.apache.spark.sql.functions.size(col("embedding"))) + 1)).as("embedding"))
      .withColumn("op", lit("u"))
    graft.streaming.StreamingChunkIndex.processVecBatch(chunkVecs, 0L, vecDir,
      centroids, opCol = Some("op"))

    val probes = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(slice(split(col("text"), " "), 5, 4))).as("term"))
    val fused = graft.streaming.StreamingChunkIndex.fusedTopKLiveDocs(
      graft.streaming.StreamingChunkIndex.readSegments(spark, lexDir),
      graft.streaming.StreamingChunkIndex.readDels(spark, lexDir),
      graft.streaming.StreamingChunkIndex.readVecSegments(spark, vecDir),
      graft.streaming.SegmentStore.readDels(spark, vecDir, "doc_id"),
      centroids, probes, "q_id", "term",
      e.filter(col("vec_id") % 97 === 0), kChunks = 20, kDocs = 5)
    val plan = finalPlan(fused)
    withClue(plan) {
      // every join past the two index scans rides broadcast — a sort-merge
      // or shuffled-hash join would mean either index crossed an exchange
      // raw instead of being reduced (tokens) or routed (buckets) first
      plan should not include "SortMergeJoin"
      plan should not include "ShuffledHashJoin"
      // VEC-index rows never cross an exchange UNROUTED: any exchange
      // subtree scanning the vec dir is (a) already candidate-sized (a
      // BroadcastHashJoin reduced it below), (b) the column-pruned
      // liveness pass (no vec array), or (c) carries the probe's inferred
      // bucket-routing predicate pushed INTO the scan (at fixture scale
      // AQE broadcasts the tiny index side of the bucket join; the pushed
      // routing filter is what bounds that side at corpus scale)
      (subtrees(plan, "Exchange") ++ subtrees(plan, "BroadcastExchange"))
        .filter(_.contains(vecDir))
        .filterNot(_.contains("BroadcastHashJoin"))
        .foreach(s => s.linesIterator
          .filter(l => l.contains("FileScan") && l.contains(vecDir))
          .foreach { l =>
            withClue(l)(
              (!l.contains("vec:array") || l.contains("(bucket")) shouldBe true)
          })
      // and LEX-index postings never ride an exchange raw: either reduced
      // below (broadcast token semi-join) or pruned to the stats columns
      (subtrees(plan, "Exchange") ++ subtrees(plan, "BroadcastExchange"))
        .filter(_.contains(lexDir))
        .filterNot(_.contains("BroadcastHashJoin"))
        .foreach(s => s.linesIterator
          .filter(l => l.contains("FileScan") && l.contains(lexDir))
          .foreach(l => l should not include "token"))
    }
  }

  test("chunkDedupStats: only fingerprints and the doc rollup shuffle, never chunk text") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val plan = finalPlan(graft.scale.Chunking.chunkDedupStats(
      docs, "doc_id", "text", 16, 8))
    withClue(plan) {
      val shuffles = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      // r14: three count-sized exchanges — fp (winner election), w_doc
      // (winner tally), doc_id (per-doc chunk count). The former fp-keyed
      // JOIN-BACK of the chunk table to its winners (corpus-chunk-sized on
      // both sides, and a second evaluation of the explode+md5 pipeline)
      // is gone; a partition key carrying chunk TEXT would ship the
      // window/stride-multiplied corpus through the exchange
      shuffles should have size 3
      shuffles.count(_.contains("hashpartitioning(fp")) shouldBe 1
      shuffles.count(_.contains("hashpartitioning(w_doc")) shouldBe 1
      shuffles.count(_.contains("hashpartitioning(doc_id")) shouldBe 1
      // the chunk fingerprint is computed exactly once (the n_chunks
      // branch is column-pruned to the bare explode, no md5)
      plan.linesIterator.count(_.contains("md5(")) shouldBe 1
      // winner election is partial-aggregated map-side (skew-safe against
      // a corpus-wide boilerplate chunk: no single-partition fp window) —
      // and since r13 it is the PACKED arg-min (decimal ordering), so the
      // reduction hash-aggregates instead of sorting the chunk explosion
      plan should include("partial_min_by(doc_id")
      plan should not include "SortAggregate"
    }
  }

  test("bm25: dl is size() of the staged token array, split once below the Generate; one df window") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Size, StringSplit}
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    object stages extends AdaptiveSparkPlanHelper
    def settled(df: DataFrame) = { df.collect(); df.queryExecution.executedPlan }
    def exprs[T](pr: ProjectExec)(pf: PartialFunction[Expression, T]) =
      pr.projectList.flatMap(_.collect(pf))

    // the round-14 fix for quadratic re-tokenization: the text is split
    // ONCE per document into a staged `_toks` array beneath the explode,
    // and dl is size(_toks) — an array length — never size(split(text)),
    // which would re-tokenize the whole text once per exploded token row
    val index = settled(graft.scale.Retrieval.buildBm25Index(
      Tables.documents(spark, sf).select("doc_id", "text"), "doc_id", "text"))
    val gens = stages.collect(index) { case g: GenerateExec => g }
    val projects = stages.collect(index) { case pr: ProjectExec => pr }
    withClue(index.toString) {
      gens should have size 1
      gens.head.child.collect { case pr: ProjectExec =>
        exprs(pr) { case s: StringSplit => s }
      }.flatten should have size 1
      projects.flatMap(exprs(_) { case s: StringSplit => s }) should have size 1
      val sizes = projects.flatMap(exprs(_) { case s: Size => s })
      sizes should have size 1
      sizes.head.child should matchPattern { case a: Attribute if a.name == "_toks" => }
    }

    // df is one window count partitioned by token over the candidate set
    val topk = settled(q("q_bm25_topk"))
    val byToken = stages.collect(topk) {
      case w @ WindowExec(_, Seq(a: Attribute), _, _) if a.name == "token" => w
    }
    withClue(topk.toString) { byToken should have size 1 }
  }
}

