package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale properties the engine claims must be
  * visible in `explain` output (SURVEY §4.3, brief "push down and
  * prune"). These tests pin the plan SHAPE, not timings, so a
  * regression that silently de-optimizes a query fails CI. */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("point_lookup: equality predicate reaches the parquet scan") {
    val plan = physical(run("point_lookup"))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"),
      plan)
  }

  test("q1_pricing: scan reads only the 5 needed lineitem columns") {
    val plan = physical(run("q1_pricing"))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_shipdate"), readSchema)
  }

  test("q1_pricing: aggregation is partial (map-side combine) + final") {
    val plan = physical(run("q1_pricing"))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("star_join: dimension tables are broadcast, fact is not shuffled twice") {
    val plan = physical(run("star_join"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("knn_topk: TakeOrderedAndProject (bounded heap), no global Sort") {
    val plan = physical(run("knn_topk"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("knn_batch: queries broadcast; topk aggregate is partial+final " +
    "(shuffle carries only per-partition heaps)") {
    val plan = physical(run("knn_batch"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("partial_topk_by_score"), plan)
  }

  test("dedup_embedding: label-blocked equi-join, not a cartesian product") {
    val plan = physical(run("dedup_embedding"))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("delete_antijoin: broadcast anti-join") {
    val plan = physical(run("delete_antijoin"))
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("cosine scoring runs inside WholeStageCodegen") {
    // AQE finalizes the physical plan lazily — materialize first
    val df = run("similarity_rank")
    df.collect()
    val finalPlan = physical(df)
    // codegen stages print as "*(n)" in the simple plan string
    assert(finalPlan.contains("*("), finalPlan)
    // the scored projection must not fall back to interpreted eval:
    // cosine_sim is a native expression with doGenCode
    val generated = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(generated.contains("Math.sqrt"), generated.take(2000))
  }

  test("q3_unshipped: both date predicates pushed to their scans") {
    val plan = physical(run("q3_unshipped"))
    assert(plan.contains("LessThan(o_orderdate"), plan)
    assert(plan.contains("GreaterThan(l_shipdate"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("q5_local_supplier: 6-table join broadcasts dims, no cartesian") {
    val plan = physical(run("q5_local_supplier"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hybrid_filter: metadata predicate pushed to documents scan") {
    val plan = physical(run("hybrid_filter"))
    assert(plan.contains("GreaterThanOrEqual(n_chars,200)"), plan)
  }

  test("label_centroids: vector_avg partial aggregation; rows are NOT " +
    "exploded x dim before the shuffle") {
    val plan = physical(run("label_centroids"))
    assert(plan.contains("partial_vector_avg"), plan)
    // the only Generate (posexplode) must sit ABOVE the aggregation
    // shuffle (plan strings print top-down: downstream operators first;
    // the orderBy's rangepartitioning exchange sits above both)
    val gen = plan.indexOf("Generate")
    val exch = plan.indexOf("Exchange hashpartitioning")
    assert(gen >= 0 && exch >= 0 && gen < exch, plan)
  }

  test("pq_knn: the ADC shortlist ranking is TakeOrderedAndProject and " +
    "the code column scan stays narrow") {
    val plan = physical(run("pq_knn"))
    // the re-rank stage: shortlist ids as a pushed isin filter
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("In(vec_id"), plan)
  }

  test("dup_components: corpus labeling is a broadcast join (the label " +
    "table never shuffles the corpus)") {
    val plan = physical(SparkEntry.queries("corpus_clean")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sample_split: the mix is pure projection — no exchange except " +
    "the final order") {
    val plan = physical(run("sample_split"))
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("chunk_docs: chunking plans with no hash-partition exchange " +
    "(map-side explode only)") {
    val plan = physical(run("chunk_docs"))
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  /** The truly-executed region of an AQE plan string: executedPlan
    * .toString appends the pre-execution "Initial Plan" section, which
    * still shows the un-reused duplicate subtrees — cut it off. */
  private def executedRegion(df: DataFrame): String = {
    df.collect()
    physical(df).split("== Initial Plan ==").head
  }

  test("bm25_topk: ONE corpus scan (stats/df/match share the postings " +
    "exchange via ReuseExchange); top-k is TakeOrderedAndProject") {
    val region = executedRegion(run("bm25_topk"))
    val scans = region.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans == 1, region)
    assert(region.contains("ReusedExchange"), region)
    assert(region.contains("TakeOrderedAndProject"), region)
  }

  test("hybrid_rank: cosine scores only candidate-join survivors, " +
    "never a full embedding scan") {
    val region = executedRegion(run("hybrid_rank"))
    // every cosine projection must sit DIRECTLY above a join: its child
    // (the next printed line) is the candidate join, not a file scan
    val lines = region.linesIterator.toVector
    val cosIdx = lines.zipWithIndex
      .filter(_._1.contains("cosine_sim")).map(_._2)
    assert(cosIdx.nonEmpty, region)
    cosIdx.foreach { i =>
      val child = lines(i + 1)
      assert(child.contains("Join"), s"cosine fed by non-join:\n$child\n$region")
    }
    // and the heavy lineage below the candidate set is shared, not
    // recomputed for the min/max bounds pass
    assert(region.contains("ReusedExchange"), region)
  }

  test("bm25_index_topk: the postings scan prunes to the query terms' " +
    "bucket partitions") {
    val plan = physical(run("bm25_index_topk"))
    // bucket=... is a PARTITION filter (pruned directories, like
    // LshVectorIndexSpec), never a post-scan data filter
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*IN".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("multimodal_meta: the doc_id predicate pushes THROUGH the " +
    "generate→decode projection to the parquet scan (ParseMedia is an " +
    "expression, not a mapPartitions barrier)") {
    val plan = physical(run("multimodal_meta"))
    assert(plan.contains("LessThan(doc_id,200)"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("ivfpq_knn: probed-cluster partition pruning + In(docid shortlist " +
    "pushdown on the re-rank scan") {
    val plan = physical(run("ivfpq_knn"))
    assert("PartitionFilters: \\[[^\\]]*cluster[^\\]]*IN".r
      .findFirstIn(plan).isDefined, plan)
    assert(plan.contains("In(docid"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hybrid_sql_text: cosine scores only candidate-join survivors " +
    "(the SQL-text path inherits hybrid_rank's pruned shape)") {
    val region = executedRegion(run("hybrid_sql_text"))
    val lines = region.linesIterator.toVector
    val cosIdx = lines.zipWithIndex
      .filter(_._1.contains("cosine_sim")).map(_._2)
    assert(cosIdx.nonEmpty, region)
    cosIdx.foreach { i =>
      val child = lines(i + 1)
      assert(child.contains("Join"), s"cosine fed by non-join:\n$child\n$region")
    }
    assert(region.contains("ReusedExchange"), region)
  }

  test("hybrid_index: both halves read index storage — postings prune " +
    "to term buckets at candidate time, and the final plan fetches " +
    "vectors by In(docid) pushdown with no full-table scan") {
    // candidate selection happens eagerly inside hybridSearch (the
    // bucket-pruned search() path already pinned above); the RETURNED
    // plan must show (a) the bounded In(docid) vector fetch reaching
    // the index scan and (b) no lineage over the raw documents or
    // embeddings tables at all
    val plan = physical(run("hybrid_index"))
    assert(plan.contains("In(docid"), plan)
    assert(!plan.contains("documents.parquet") &&
      !plan.contains("embeddings.parquet"), plan)
    // the ≤50-row lexical candidates replay as a local relation, not a
    // postings re-scan: no bucket-partitioned read remains in the plan
    assert(!plan.contains("PartitionFilters: [bucket"), plan)
  }

  test("keyword_facets: the facet side carries (id, facet) only — the " +
    "corpus text never rides the facet shuffle, and no cartesian") {
    val plan = physical(run("keyword_facets"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the docs relation is scanned for the facet join with a pruned
    // schema: id + facet, never the text column again
    val facetScan = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("lang"))
      .mkString("\n")
    assert(facetScan.nonEmpty && !facetScan.contains("text"), plan)
  }

  test("keyword_facets_index: NO corpus scan anywhere — facet values " +
    "come from the docid-sorted _meta sidecar via In(docid) pushdown, " +
    "candidates replay as a local relation") {
    val plan = physical(run("keyword_facets_index"))
    assert(!plan.contains("documents.parquet"), plan)
    assert(plan.contains("In(docid"), plan)
    // the ≤maxFetch candidates replay locally; no postings re-scan
    assert(!plan.contains("PartitionFilters: [bucket"), plan)
  }

  test("keyword_batch: one shared postings pass for N term queries " +
    "(single documents scan + reused exchange), bounded-heap top-k") {
    val region = executedRegion(run("keyword_batch"))
    val scans = region.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans == 1, region)
    assert(region.contains("ReusedExchange"), region)
    assert(region.contains("partial_topk_by_score"), region)
    assert(!region.contains("CartesianProduct"), region)
  }

  test("pixel_stats_mixed: BOTH real decoders ride the scan as " +
    "expressions — doc_id pushes through generate→decode, no barrier") {
    val plan = physical(run("pixel_stats_mixed"))
    assert(plan.contains("LessThan(doc_id,40)"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("hybrid_batch: one shared postings pass for N queries (reused " +
    "exchange), broadcast query/bounds joins, bounded-heap top-k") {
    val region = executedRegion(run("hybrid_batch"))
    assert(region.contains("ReusedExchange"), region)
    assert(region.contains("partial_topk_by_score"), region)
    assert(!region.contains("CartesianProduct"), region)
  }

  test("jpeg_420_pixels: the chroma-subsampled decode is an expression " +
    "riding the scan — doc_id pushes through, no barrier") {
    val plan = physical(run("jpeg_420_pixels"))
    assert(plan.contains("LessThan(doc_id,6)"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("png_pixels: the pixel decode is an expression, not a barrier — " +
    "doc_id pushes to the scan and no mapPartitions appears") {
    val plan = physical(run("png_pixels"))
    assert(plan.contains("LessThan(doc_id,30)"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("tiff_pixels: the strip-walk decode is an expression riding " +
    "the scan — doc_id pushes down, no barrier, no join") {
    val plan = physical(run("tiff_pixels"))
    assert(plan.contains("LessThan(doc_id,40)"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("decontaminate: the shingle join broadcasts the (small) test " +
    "side — the 100 TB train side never shuffles, and no cartesian") {
    val plan = physical(run("decontaminate"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("keyword_sql_text: BM25 stats ride as literals — no stats join " +
    "or shuffle (the only join is the view's own docs⋈embeddings, " +
    "broadcast), and the keyword filter pushes below it onto the " +
    "documents scan side") {
    val plan = physical(run("keyword_sql_text"))
    // stats are inside the literal model, not joined at runtime
    assert(plan.contains("Bm25QueryModel"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffleExchange"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the score filter runs on the documents branch BEFORE the view's
    // broadcast join — a post-join filter would score unmatched rows
    val filterLine = plan.linesIterator
      .find(l => l.contains("Filter") && l.contains("keyword_score"))
    assert(filterLine.isDefined, plan)
    assert(plan.indexOf(filterLine.get) >
      plan.indexOf("BroadcastHashJoin"), plan)
  }

  test("hybrid_pure_sql: the bounds aggregate broadcasts into the " +
    "blend (no single-partition window over the candidate set)") {
    val plan = physical(run("hybrid_pure_sql"))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("packed_knn: packed cosine ranks via TakeOrderedAndProject and " +
    "the kernel is codegen'd (direct LE float reads)") {
    val df = run("packed_knn")
    df.collect()
    assert(physical(df).contains("TakeOrderedAndProject"), physical(df))
    val generated = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(generated.contains("getFloatLE"), generated.take(2000))
  }

  test("fingerprint runs inside WholeStageCodegen (no interpreted HOF)") {
    val df = run("fingerprint")
    df.collect()
    val generated = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(generated.contains("Fingerprint"), generated.take(2000))
    val plan = physical(df)
    assert(!plan.contains("aggregate(lambda"), plan)
  }

  test("gif_frames: the LZW frame decode is an expression feeding " +
    "Generate — doc_id pushes to the scan, no mapPartitions barrier") {
    val plan = physical(run("gif_frames"))
    assert(plan.contains("LessThan(doc_id,30)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("gif_frame_dedup: the raster join is hash-partitioned on the " +
    "frame fingerprint — no cartesian, no mapPartitions") {
    val plan = physical(run("gif_frame_dedup"))
    assert(plan.contains("xxhash64"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("MapPartitions") &&
      !plan.contains("SerializeFromObject"), plan)
  }

  test("gif_frame_keep: the group form is join-free — each frame " +
    "shuffles once into its fingerprint group (partial count), the " +
    "quadratic pair set never exists") {
    val plan = physical(run("gif_frame_keep"))
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("MapPartitions") &&
      !plan.contains("SerializeFromObject"), plan)
  }

  test("wav_windows: the PCM window decode is an expression feeding " +
    "Generate — doc_id pushes to the scan, no mapPartitions barrier") {
    val plan = physical(run("wav_windows"))
    assert(plan.contains("LessThan(doc_id,40)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("pii_redact: the regex scrub is a projection over the scan — " +
    "doc_id pushes down, no exchange above the scan, no UDF") {
    val plan = physical(run("pii_redact"))
    assert(plan.contains("LessThan(doc_id,200)"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("lm_quality: word-count plan — partial aggregation before the " +
    "token shuffle, one-row broadcast normalizer, no cartesian") {
    val plan = physical(run("lm_quality"))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the (N, V) normalizer is a ONE-ROW broadcast: its global agg is
    // the plan's only SinglePartition exchange, and it reduces
    // partial_sum/partial_count rows (one per upstream partition), not
    // data — the correct global-aggregate shape at any scale
    assert(plan.split("SinglePartition").length - 1 == 1, plan)
    assert(plan.contains("IdentityBroadcastMode"), plan)
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("domain_mix_fast: the corpus is never shuffled — membership is " +
    "a per-row predicate under a broadcast threshold map: no Window, " +
    "no sort-merge join, no cartesian") {
    val plan = physical(run("domain_mix_fast"))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("domain_mix: exact rank cut — one window, targets ride a " +
    "broadcast join, no cartesian") {
    val plan = physical(run("domain_mix"))
    assert(plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("domain_kl: ONE corpus pass — the (group, tok) count table is " +
    "materialized once (eager localCheckpoint) and every downstream " +
    "aggregate reads the checkpointed blocks; the corpus file is " +
    "never re-scanned and no cache entry outlives the call") {
    val plan = physical(run("domain_kl"))
    // the only corpus scan ran at checkpoint time — the final plan
    // reads the bounded |V|·|G| block table, not the files
    assert(!plan.contains("FileScan"), plan)
    assert(plan.split("Scan ExistingRDD").length - 1 >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(org.apache.spark.sql.graftshim.Shim.cacheIsEmpty(spark), plan)
  }

  test("oov_rate: the vocabulary is a bounded TakeOrdered broadcast — " +
    "the token stream joins map-side, no sort-merge join, no full " +
    "vocabulary sort") {
    val plan = physical(run("oov_rate"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("lm_model_score: the frozen model is a pure map over the scan " +
    "— no join, no window, no aggregation exchange; the kernel stays " +
    "inside WholeStageCodegen") {
    val plan = physical(run("lm_model_score"))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("unigram_bits") || plan.contains("UnigramBits"),
      plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("nb_model_score: the frozen NB classifier is a pure map over " +
    "the scan — no join, no window, no aggregation exchange; the " +
    "kernel stays inside WholeStageCodegen") {
    val plan = physical(run("nb_model_score"))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("nb_log_odds") || plan.contains("NbLogOdds"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("nb_quality: corpus-native fit is the word-count plan — " +
    "partial map-side aggregation before the token shuffle, one-row " +
    "normalizer and prior broadcast, no cartesian corpus blowup") {
    val plan = physical(run("nb_quality"))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("zorder_layout: one-row z-range broadcast, partial min/max " +
    "aggregation, no cartesian") {
    val plan = physical(run("zorder_layout"))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("partial_min") || plan.contains("partial_max"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("shard_manifest: one aggregate with min_by — no Window, no join") {
    val plan = physical(run("shard_manifest"))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_min_by") || plan.contains("min_by"), plan)
  }

  test("ivf_drift: scoring is a pure map (centroid kernels in the " +
    "scan), the band is a one-row broadcast, no corpus-row join") {
    val plan = physical(run("ivf_drift"))
    assert(plan.contains("nearest_centroid") ||
      plan.contains("NearestCentroid"), plan)
    assert(plan.contains("centroid_cosine") ||
      plan.contains("CentroidCosine"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    // the one sort-merge join is the FULL OUTER of the two k-row
    // per-cluster aggregate tables (full-outer cannot broadcast) —
    // corpus rows are aggregated before any join
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("select_pipeline: both frozen models ride the scan as pure-map " +
    "kernels, selection is a bounded TakeOrdered, the 50-row selected " +
    "set joins back by broadcast — no cartesian") {
    val plan = physical(run("select_pipeline"))
    assert(plan.contains("nb_log_odds") || plan.contains("NbLogOdds"), plan)
    assert(plan.contains("dsir_log_weight") || plan.contains("DsirLogWeight"),
      plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sq8_knn: ADC scan into a bounded TakeOrdered — no join, no " +
    "global sort; the cosine kernel rides the scan") {
    val plan = physical(run("sq8_knn"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("sq8_cosine") || plan.contains("Sq8Cosine"), plan)
  }

  test("triplet_mine: both argmaxes are bounded-heap partial " +
    "aggregates over blocked equi-joins — no window sort, no " +
    "cartesian") {
    val plan = physical(run("triplet_mine"))
    assert(plan.contains("partial_topk_by_score"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("semdedup: the pair search is cluster-blocked (equi-join on " +
    "cluster, no cartesian) and the k-row centroid table is broadcast") {
    val plan = physical(run("semdedup"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dsir_weights: the bucket count table is broadcast (bounded " +
    "by the bucket count, never vocabulary-sized); fit is the " +
    "word-count plan; no cartesian corpus blowup") {
    val plan = physical(run("dsir_weights"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dsir_select: frozen-model weights are a pure map and the " +
    "selection is a bounded TakeOrdered — no global sort, no join, " +
    "no aggregation") {
    val plan = physical(run("dsir_select"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("dsir_log_weight") || plan.contains("DsirLogWeight"),
      plan)
  }

  test("lm_bigram_model: the frozen bigram model is the same pure " +
    "map as the unigram form — no join, no window, no aggregation " +
    "exchange; the kernel stays inside WholeStageCodegen") {
    val plan = physical(run("lm_bigram_model"))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("bigram_bits") || plan.contains("BigramBits"),
      plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("lm_bigram: the pair table derives from the row's token array " +
    "— no positional self-join (ONE corpus file scan per count table " +
    "+ the scoring legs, never a (doc, pos)⋈(doc, pos+1) join) and " +
    "no cartesian") {
    val plan = physical(run("lm_bigram"))
    assert(!plan.contains("CartesianProduct"), plan)
    // every join key is a token/prev string — a positional self-join
    // would join on (doc_id, pos) pairs
    assert(!plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("pos")), plan)
  }

  test("avi_av_features: both tracks decode in ONE expression riding " +
    "the scan — doc_id pushes through, no barrier") {
    val plan = physical(run("avi_av_features"))
    assert(plan.contains("LessThan(doc_id,24)"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  // r17 optimization round (second session): the query now
  // materializes the gated corpus ONCE (the threshold fit and the
  // final mix used to each re-run the whole gate chain), so the pin
  // splits across that boundary exactly like pretrain_pipeline's —
  // the gate subtree keeps every fusion property, and the final plan
  // must read ONLY the materialized corpus.
  test("ingest_filter: the gate subtree never shuffles the corpus — " +
    "scrub, shingle filter, and gate fuse into the scan as per-row " +
    "maps: no window, no sort-merge join, no cartesian, no barrier") {
    import graft.operators._
    val docs = spark.read
      .parquet(s"$sf/documents.parquet").select("doc_id", "text", "lang")
    val m = LmScore.model(TextClean.redactPii(docs, "text"), "text",
      vocabSize = 1024)
    val plan = physical(Pipeline.ingestGate(docs, "text",
      Seq("never present shingle text here x"), 5, 2, m))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
    assert(plan.contains("unigram_bits") || plan.contains("UnigramBits"),
      plan)
  }

  test("ingest_filter: downstream of the gated-corpus boundary " +
    "nothing re-reads the raw files — ZERO FileScans in the final " +
    "plan and the mix is a broadcast-threshold filter: no window, no " +
    "sort-merge join, no cartesian") {
    val plan = physical(run("ingest_filter"))
    assert(!plan.contains("FileScan"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("quality_gate: six signals and the keep boolean in ONE corpus " +
    "pass with ZERO data shuffles — no join, no aggregate, no window; " +
    "the only exchange is the output sort") {
    val plan = physical(run("quality_gate"))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.split("FileScan").length - 1 == 1, plan)
    assert(plan.contains("unigram_bits") || plan.contains("UnigramBits"),
      plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("pretrain_pipeline: the four cleaning stages (scrub → " +
    "decontaminate → dedup → gate) read the corpus text exactly ONCE " +
    "— one FileScan with text in its ReadSchema, no Join (the set-" +
    "form decontaminate and the gate are maps; dedup is one window)") {
    import graft.operators._
    val docs = spark.read
      .parquet(s"$sf/documents.parquet").select("doc_id", "text", "lang")
    val m = LmScore.model(docs, "text", vocabSize = 1024)
    val plan = physical(Pipeline.cleaned(docs, "doc_id", "text",
      Seq("never present shingle text here x"), 5, 2, m))
    assert(plan.split("FileScan").length - 1 == 1, plan)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text"), readSchema)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("pretrain_pipeline: downstream of the clean-corpus boundary " +
    "nothing re-reads the raw files — ZERO FileScans in the final " +
    "plan (mix + pack run over the one materialized corpus) and no " +
    "single-partition exchange (the pack prefix sum stays bucketed)") {
    val plan = physical(run("pretrain_pipeline"))
    assert(!plan.contains("FileScan"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("pack_sequences: the global prefix sum is bucketed — no " +
    "single-partition exchange anywhere in the plan") {
    val plan = physical(run("pack_sequences"))
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("avi_frames: the container-video decode (RIFF walk + per-frame " +
    "JPEG entropy decode) is an expression feeding Generate — doc_id " +
    "pushes to the scan, no mapPartitions barrier") {
    val plan = physical(run("avi_frames"))
    assert(plan.contains("LessThan(doc_id,24)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("avi_scene_cuts: frame SADs compute inside the decode " +
    "expression — one pass over the blobs, no join between frames, " +
    "no barrier") {
    val plan = physical(run("avi_scene_cuts"))
    assert(plan.contains("LessThan(doc_id,24)"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("flac_stats: the whole decode chain (FLAC entropy decode -> " +
    "WAV re-wrap -> stats) rides the scan as nested expressions — " +
    "pushdown intact, no shuffle, no barrier") {
    val plan = physical(run("flac_stats"))
    assert(plan.contains("LessThan(doc_id,45)"), plan)
    // the only exchange is the final orderBy's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("mp3_pcm_stats: the whole Layer III chain (reservoir + " +
    "Huffman + IMDCT + synthesis -> WAV re-wrap -> stats) rides the " +
    "scan as nested expressions — pushdown intact, no shuffle, no " +
    "barrier") {
    val plan = physical(run("mp3_pcm_stats"))
    assert(plan.contains("LessThan(doc_id,5)"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("mp3_windows: decode feeds Generate (explode) with the filter " +
    "pushed to the scan — the per-row codec shape at 100 TB") {
    val plan = physical(run("mp3_windows"))
    assert(plan.contains("LessThan(doc_id,5)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("mp3_coverage: the side-info-only table census rides the scan " +
    "as a nested expression — pushdown intact, no shuffle (the crawl-" +
    "triage shape: cheaper than decode, same distribution story)") {
    val plan = physical(run("mp3_coverage"))
    assert(plan.contains("LessThan(doc_id,8)"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("vp8_inter_frames: the whole IVF sequence decode (reference " +
    "buffers + MC) is one per-row expression feeding Generate — " +
    "no shuffle before the final sort, pushdown intact") {
    val plan = physical(run("vp8_inter_frames"))
    assert(plan.contains("LessThan(doc_id,1)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("mp4_frames: ISO-BMFF demux + per-sample JPEG decode is an " +
    "expression feeding Generate — no mapPartitions barrier, filter " +
    "pushed to the scan") {
    val plan = physical(run("mp4_frames"))
    assert(plan.contains("LessThan(doc_id,26)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("normalize_text and url_normalize: map-only projections over " +
    "the scan — zero exchanges, the trivially-distributable shape") {
    Seq("normalize_text", "url_normalize").foreach { q =>
      val plan = physical(run(q))
      // the only exchange is the final orderBy's range partitioning
      assert(!plan.contains("Exchange hashpartitioning"), s"$q:\n$plan")
      assert(!plan.contains("Join"), s"$q:\n$plan")
    }
  }

  test("crawl_ingest: html extraction, NFC normalize and both URL " +
    "kernels fuse with the scan — the ONLY hash exchange is the " +
    "per-domain cap window, and no mapPartitions barrier exists") {
    val plan = physical(run("crawl_ingest"))
    val hashEx = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("domain_cap: ONE hash exchange on domain for the per-domain " +
    "window — the url_domain extraction itself adds no shuffle") {
    val plan = physical(run("domain_cap"))
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, plan) // domain window + final orderBy only
    assert(plan.contains("Window"), plan)
  }

  test("archive/document ingest (zip, tar.gz, pdf, tiff, exif): every " +
    "codec is a projection/generate over the scan — doc_id pushes " +
    "down, no UDF, no mapPartitions barrier, no join") {
    for (q <- Seq("zip_extract", "tar_extract", "pdf_text", "tiff_meta",
      "jpeg_exif", "zstd_extract", "warczst_extract", "pdf_images",
      "image_quality", "charset_decode", "fix_mojibake", "wav_vad")) {
      val plan = physical(run(q))
      assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan"),
        s"$q: $plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
        s"$q: $plan")
      assert(!plan.contains("SerializeFromObject") &&
        !plan.contains("MapPartitions"), s"$q: $plan")
      assert(!plan.contains("Join"), s"$q: $plan")
    }
    // the archive listings explode through a real Generate node
    assert(physical(run("zip_extract")).contains("Generate explode"))
    assert(physical(run("tar_extract")).contains("Generate explode"))
  }

  test("suffix_maxrep: the prefix-doubling build has no cartesian " +
    "product and no single-partition exchange — every round is a " +
    "narrow-key sort/join, adjacency is dense-rank arithmetic") {
    val plan = physical(run("suffix_maxrep"))
    assert(!plan.contains("Cartesian"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"), plan)
  }

  test("document/governance queries (mime, subtitles, parquet, ogg, " +
    "robots, blocklist): projection/generate over the scan — doc_id " +
    "pushes down, no UDF, no mapPartitions, no join") {
    for (q <- Seq("mime_extract", "subtitle_cues", "parquet_triage",
      "ogg_meta", "robots_filter", "blocklist_filter",
      "tiff_jpeg_pixels")) {
      val plan = physical(run(q))
      assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan"),
        s"$q: $plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
        s"$q: $plan")
      assert(!plan.contains("SerializeFromObject") &&
        !plan.contains("MapPartitions"), s"$q: $plan")
      assert(!plan.contains("Join"), s"$q: $plan")
    }
    assert(physical(run("subtitle_cues")).contains("Generate explode"))
  }

  test("embedding_qa: ONE dim-keyed partial aggregate over the " +
    "exploded quantized values — no join, map-side combine does " +
    "the work") {
    val plan = physical(run("embedding_qa"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Generate posexplode"), plan)
    assert(plan.contains("partial_sum") || plan.contains("partial"),
      plan)
    assert(plan.split("Exchange").length <= 3, plan) // agg + order only
  }

  test("cdc_dedup: chunking rides the scan (no pre-join shuffle of " +
    "blob bytes), the dedup join is a hash equi-join on the chunk " +
    "hash, nothing nested-loop") {
    val plan = physical(run("cdc_dedup"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("cdc_chunks"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
    // exchanges carry (hash, ...) chunk rows — never the blob column
    val firstEx = plan.indexOf("Exchange")
    assert(firstEx >= 0 && !plan.substring(firstEx).contains("media#"),
      plan)
  }

  test("bloom_contains: the corpus plan has NO join at all — the " +
    "frozen filter rides as a plan literal and membership is a " +
    "per-row probe (the decontamination-as-broadcast shape)") {
    val plan = physical(run("bloom_contains"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("bloom_contains"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("webp_lossy_pixels: the whole VP8 decode chain (container walk " +
    "+ boolean decode + IDCT + prediction + loop filter + ALPH) is a " +
    "codegen'd per-row expression riding the scan — no join, no " +
    "object-serialization barrier") {
    val plan = physical(run("webp_lossy_pixels"))
    assert(plan.contains("webp_yuv"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("wordvec_knn: the corpus is encoded through a BROADCAST model " +
    "join (the corpus never shuffles for the lookup) with a " +
    "partial+final mean aggregate, and the ranking is a bounded " +
    "TakeOrderedAndProject — no global sort, no cartesian") {
    val plan = physical(run("wordvec_knn"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_vector_avg"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("wordvec_similar: the learned encode is a codegen'd projection " +
    "riding the documents scan — NO join, NO shuffle before the " +
    "top-k, no mapPartitions barrier (the frozen-model deployment " +
    "shape)") {
    val plan = physical(run("wordvec_similar"))
    assert(plan.contains("wordvec_embed"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }

  test("winnow_incremental: the lake is read ONLY as stored postings " +
    "and NO scan in the probe plan reads text; the candidate postings " +
    "are materialized once (r12: the df cap and the pair join share " +
    "one pruned postings read), so the final plan joins checkpointed " +
    "candidates with the broadcast batch — no file scan at all") {
    val plan = physical(run("winnow_incremental"))
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    // the candidate materialization consumed the pruned postings scan
    // BEFORE this plan: nothing left re-reads the lake or any text —
    // a documents/text FileScan here would mean the probe re-derives
    // fingerprints from raw text (the exact cost the index exists to
    // avoid)
    scans.foreach(l => assert(!l.contains("text"), l))
    assert(!scans.exists(_.contains("documents")), plan)
    // both probe inputs are the materialized RDDs; the batch side
    // broadcasts into the pair join
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("dedup_incremental: the lake's TEXT is never read at probe " +
    "time — the base side comes entirely from the stored shingle " +
    "index (postings scan, no text column), and every documents scan " +
    "in the plan is the incoming batch (doc_id >= 250 pushed)") {
    // Since the r17 optimization round the survivors chain
    // materializes the probe (vsBase localCheckpoint — the probe
    // executes exactly once instead of once per downstream
    // anti-join), so the postings scan lives in the probe's OWN plan,
    // not the final query's. Pin the property at the operator level:
    // a probe over a real stored lake must scan postings without the
    // text column and must not scan the base corpus at all.
    val dir = java.nio.file.Files
      .createTempDirectory("planaudit_shingle").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val idx = operators.ShingleIndex.build(
      docs.filter(col("doc_id") < 250), "doc_id", "text", dir, ngram = 3)
    val probePlan = physical(
      idx.probe(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", threshold = 0.35))
    val probeScans =
      probePlan.linesIterator.filter(_.contains("FileScan")).toSeq
    val idxScans = probeScans.filter(_.contains("old_id"))
    assert(idxScans.nonEmpty, probePlan)
    idxScans.foreach(l => assert(!l.contains("text"), l))
    probeScans.filter(_.contains("documents")).foreach { l =>
      assert(!l.contains("LessThan(doc_id,250)"), l)
    }
    // and in the declared query's final plan every documents scan is
    // still the INCOMING half (base never re-read there either)
    val plan = physical(run("dedup_incremental"))
    val docScans = plan.linesIterator.filter(_.contains("FileScan"))
      .filter(_.contains("documents")).toSeq
    assert(docScans.nonEmpty, plan)
    docScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id,250)"), l)
      assert(!l.contains("LessThan(doc_id,250)"), l)
    }
  }
  test("crawl_report (r14; the canonical census since media_census " +
    "retired into it in r15): all 11 per-format triages ride the " +
    "scan as codegen'd expressions, ONE kind-keyed shuffle, no " +
    "mapPartitions") {
    val plan = physical(run("crawl_report"))
    assert(plan.contains("LessThan(doc_id,190)"), plan)
    assert(plan.contains("HashAggregate"), plan)
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"want 1 kind-shuffle, got $exchanges\n" + plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
    // the new avi triage expression is on the scan side, not a join
    assert(plan.contains("avi_meta"), plan)
  }
  test("webm_frames: the EBML demux + whole-sequence VP8 decode is " +
    "one codegen'd expression feeding Generate — no mapPartitions, " +
    "no shuffle, filter pushed to the scan") {
    val plan = physical(run("webm_frames"))
    assert(plan.contains("LessThan(doc_id,1)"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"), plan)
  }
  test("dedup_batch and index_churn kernels run inside WholeStageCodegen: " +
    "the TextDedup.shingles, MinHashLsh.signatures and Ivf.assign " +
    "projections each sit in a codegen stage") {
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import spark.implicits._
    import graft.functions.{BandKeys, MinHashSignature, NearestCentroid, NgramShingles, ShingleHashes}
    import graft.operators.{Ivf, MinHashLsh, TextDedup}
    // every node of the final plan, through AQE's query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    // the nodes one codegen stage compiles (its inputs are adapters)
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    def projects(p: SparkPlan, cls: Class[_]): Boolean = p match {
      case pr: ProjectExec => pr.projectList.exists(_.exists(_.getClass == cls))
      case _ => false
    }
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "text")
    // a range, not a local Seq: a local relation folds the projection away
    val vecs = spark.range(4).select(col("id"),
      array(col("id").cast("float"), lit(1f)).as("vec"))
    val model = Ivf.Model(Array(Array(1f, 0f), Array(0f, 1f)))
    for ((df, cls) <- Seq(
        TextDedup.shingles(docs, "id", "text", 2) -> classOf[NgramShingles],
        MinHashLsh.signatures(docs, "id", "text", 2, 8) ->
          classOf[MinHashSignature],
        TextDedup.hashedShingles(docs, "id", "text", 2) ->
          classOf[ShingleHashes],
        MinHashLsh.signatures(docs, "id", "text", 2, 8)
          .selectExpr("id", "band_keys(sig, 4) AS keys") -> classOf[BandKeys],
        Ivf.assign(vecs, "vec", model) -> classOf[NearestCentroid])) {
      df.collect()
      val all = nodes(df.queryExecution.executedPlan)
      assert(all.exists(projects(_, cls)), all.mkString("\n"))
      val staged = all.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => stage(w.child))
      assert(staged.exists(projects(_, cls)),
        s"${cls.getSimpleName} projection outside codegen:\n" +
          df.queryExecution.executedPlan)
    }
  }
}