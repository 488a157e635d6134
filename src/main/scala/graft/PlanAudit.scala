package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: prints, for each audited query, whether the
  * plan has the properties the 100 TB posture depends on — filters
  * pushed into the parquet scan, pruned read schemas, broadcast joins
  * on dimension sides, map-side partial aggregation, and
  * whole-stage-codegen coverage. Run:
  *   sbt 'runMain graft.PlanAudit /root/testdata/sf0.001'
  * The session has 4 cores and 4 shuffle partitions, the width the
  * checks were written against.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Driver.session(cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val failures = try run(spark, sfDir) finally spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** Print every check's PASS/FAIL line for the queries on `spark`
    * over `sfDir`; returns the number of failed checks. */
  def run(spark: SparkSession, sfDir: String): Int = {
    val audits: Seq[(String, Map[String, String => Boolean])] = Seq(
      // §2.H: the status predicate must prune at the partition
      // DIRECTORY level (manifest listing), not post-scan — at 100 TB
      // that is the difference between opening one partition and three
      "src_partitioned_sink" -> Map(
        "status prunes partitions" -> (p =>
          "PartitionFilters: \\[[^\\]]*o_orderstatus".r.findFirstIn(p).isDefined),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      // §2.H: the price filter must reach the ORC scan (stripe-level
      // min/max skipping — the same 100 TB contract as parquet)
      "src_bucketed_join" -> Map(
        // the point of bucketing: the fact-fact join must read both
        // bucketed tables CO-LOCATED — SortMergeJoin with zero
        // hash-partitioning exchanges anywhere under it (the only
        // exchanges left are the rollup's and the output sort's)
        "co-located sort-merge join" -> (_.contains("SortMergeJoin")),
        "bucketed scans on both sides" -> (p =>
          "Bucketed: true".r.findAllIn(p).size >= 2),
        "no shuffle on the join key" -> (p =>
          !p.contains("hashpartitioning(l_orderkey") &&
          !p.contains("hashpartitioning(o_orderkey"))),
      // r10: the coefficient's top-20 must compile to the bounded
      // top-k operator, never a global sort of the node table
      "q_clustering_coeff" -> Map(
        "top-20 is TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      // r10: the served curve is the bounded driver-side relation —
      // the heavy per-user agg ran eagerly underneath; the plan the
      // caller executes must be a LocalTableScan + sort, never a
      // Window over the user table
      "q_survival_curve" -> Map(
        "curve is a bounded local relation" -> (_.contains("LocalTableScan")),
        "no window operator" -> (p => !p.contains("Window"))),
      "src_orc_roundtrip" -> Map(
        "price filter pushed to orc scan" -> (p =>
          "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_extendedprice".r
            .findFirstIn(p).isDefined),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      // §2.H: the quantity filter must reach the csv SCAN (row-group
      // skip is parquet-only, but csv still short-circuits row parses)
      "src_csv_roundtrip" -> Map(
        "quantity filter pushed to csv scan" -> (p =>
          "PushedFilters: \\[[^\\]]*LessThan\\(l_quantity".r.findFirstIn(p).isDefined),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q6_forecast_revenue" -> Map(
        "filters pushed to scan" -> (_.contains("PushedFilters: [IsNotNull(l_shipdate)")),
        "schema pruned to 4 cols" -> (p =>
          "ReadSchema: [^\n]*l_quantity".r.findFirstIn(p).isDefined &&
          !p.contains("l_orderkey")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "whole-stage codegen" -> (_.contains("WholeStageCodegen subtree"))),
      "q5_local_supplier" -> Map(
        "all dims broadcast" -> (p => "BroadcastHashJoin".r.findAllIn(p).size >= 4),
        "single fact-fact shuffle join" -> (p =>
          "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1),
        "orders date filter pushed" -> (_.contains("PushedFilters: [IsNotNull(o_orderdate)"))),
      "q3_shipping_priority" -> Map(
        "customer broadcast" -> (_.contains("BroadcastHashJoin")),
        "lineitem date filter pushed" -> (p =>
          "PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate".r.findFirstIn(p).isDefined)),
      "q1_pricing_summary" -> Map(
        "partial agg before shuffle" -> (_.contains("partial_")),
        "schema pruned (no partkey)" -> (p => !p.contains("l_partkey"))),
      "q_order_priority" -> Map(
        "semi join, not inner+distinct" -> (_.contains("LeftSemi"))),
      "q_parts_never_ordered" -> Map(
        "anti join" -> (_.contains("LeftAnti"))),
      "ann_bruteforce_topk" -> Map(
        "probes broadcast" -> (_.contains("BroadcastNestedLoopJoin")),
        "codegen cosine" -> (_.contains("WholeStageCodegen subtree"))),
      "dedup_minhash_lsh" -> Map(
        "no cartesian product" -> (p => !p.contains("CartesianProduct"))),
      "ann_ivf_topk" -> Map(
        // r1 regression guard: centroid assignment must stay a map-side
        // argmax — no corpus crossJoin, no window shuffled by vec_id
        // (the only windows left are the per-probe top-k ranking)
        "no cartesian assignment" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no per-vector window shuffle" -> (p =>
          !p.contains("windowspecdefinition(vec_id"))),
      "dedup_embedding" -> Map(
        "top-N is bounded TakeOrdered, not a global sort" ->
          (_.contains("TakeOrderedAndProject"))),
      "q_skewed_agg" -> Map(
        // the salt must reach the physical join keys, and the salted
        // side must stay a shuffle join (a broadcast would silently
        // defeat the salt and re-concentrate the hot key)
        "salt in join keys" -> (_.contains("__salt")),
        "salted join stays shuffle-hash" -> (_.contains("ShuffledHashJoin"))),
      "mr_wordcount" -> Map(
        "partial count before shuffle" -> (_.contains("partial_count")),
        "only text column read" -> (p => !p.contains("doc_id"))),
      // the engine's job shape: in-mapper combine, then ONE
      // hash(key) mod R exchange into a key-run walk — never a typed
      // aggregate around a shuffle, nor a second round-robin exchange
      // (the final orderBy's range exchange is the query's own)
      "mr_wordcount_engine" -> Map(
        "single hash exchange" -> { p =>
          val physical = p.split("Found \\d+ WholeStageCodegen subtree").head
          "Exchange hashpartitioning".r.findAllIn(physical).size == 1 &&
            !physical.contains("RoundRobinPartitioning")
        },
        "no ObjectHashAggregate" -> (p => !p.contains("ObjectHashAggregate"))),
      "q9_profit_by_nation" -> Map(
        "part/supplier/nation dims broadcast" ->
          (p => "BroadcastHashJoin".r.findAllIn(p).size >= 3),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_window_funcs" -> Map(
        // all four window functions share one (partition, order) spec
        // → a single sort, a single Window operator
        "one window operator for four functions" ->
          (p => "\\bWindow\\b".r.findAllIn(p).size <= 1),
        "user filter pushed to scan" ->
          (p => "PushedFilters: \\[[^\\]]*LessThan\\(user_id".r.findFirstIn(p).isDefined)),
      "q16_brand_suppliers" -> Map(
        "part filters pushed to scan" ->
          (p => "PushedFilters: \\[[^\\]]*Not\\(EqualTo\\(p_brand".r.findFirstIn(p).isDefined),
        "distinct-count partial before shuffle" -> (_.contains("partial_"))),
      // Catalyst's own rank-filter pushdown (InferWindowGroupLimit)
      // must stay engaged on the declarative top-k queries — it's the
      // built-in partial-limit-before-shuffle twin of our heap-based
      // TopKPerKey operator, and a regression here (e.g. a filter
      // rewritten so the rank column is no longer recognized) would
      // silently resurrect the full per-partition sort
      "q_events_topk_users" -> Map(
        "rank filter lowered to WindowGroupLimit" ->
          (_.contains("WindowGroupLimit"))),
      "q_top_customers_per_segment" -> Map(
        "rank filter lowered to WindowGroupLimit" ->
          (_.contains("WindowGroupLimit"))),
      "q_asof_join" -> Map(
        // the sort-merge as-of: ONE union shuffle + per-key running
        // window; no join operator at all (a BroadcastNestedLoop or
        // Cartesian here would mean the inequality-join anti-pattern)
        "no join operator" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "single window over the union" ->
          (p => "\\bWindow\\b".r.findAllIn(p).size <= 1),
        "running frame, not full-partition buffer" ->
          (_.contains("unboundedpreceding$(), currentrow$()"))),
      "q2_min_cost_supplier" -> Map(
        "argmin via partial agg, no window sort" -> (p =>
          p.contains("partial_min") && !p.contains("\nWindow")),
        "part dim broadcast" -> (_.contains("BroadcastHashJoin"))),
      "text_pii_scan" -> Map(
        // PII scan must stay a pure scan→project pipeline
        "map-only (no agg, no join)" -> (p =>
          !p.contains("Aggregate") && !p.contains("Join")),
        "whole-stage codegen" -> (_.contains("WholeStageCodegen subtree"))),
      "text_boilerplate" -> Map(
        "corpus total joined as broadcast, not collected" ->
          (_.contains("BroadcastNestedLoopJoin")),
        "df count partial before shuffle" -> (_.contains("partial_count"))),
      "q_top_ngrams" -> Map(
        "ranked through native TopKPerKey heaps" ->
          (_.contains("TopKPerKey")),
        "ngram count partial before shuffle" -> (_.contains("partial_count"))),
      "q_range_join" -> Map(
        // bucketing must keep the range join an equi-join — a
        // BroadcastNestedLoop or Cartesian here means the residual
        // range predicate became the ONLY join condition
        "range join stays equi-join" -> (p =>
          !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_grouping_sets" -> Map(
        "one Expand + one aggregation, not three scans" -> (p =>
          "\\bExpand\\b".r.findAllIn(p).size == 1 &&
          "Scan parquet".r.findAllIn(p).size <= 2)),
      "text_decontaminate" -> Map(
        // the benchmark n-gram set is eval-suite-sized, not
        // corpus-sized — it must be the broadcast side so the training
        // corpus streams past it map-side
        "benchmark gram set broadcast" -> (_.contains("BroadcastHashJoin")),
        "per-doc counts partial before shuffle" -> (_.contains("partial_count"))),
      "q_sliding_distinct" -> Map(
        // day spine is ~hundreds of rows: broadcast; the only
        // corpus-sized shuffle is the (day,user) distinct
        "day spine broadcast" -> (p =>
          p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin")),
        "distinct partial before shuffle" -> (_.contains("partial_"))),
      "q_copurchase_pairs" -> Map(
        // pairs must meet on the l_orderkey equi-join — a cartesian
        // means the within-order pairing became all-pairs
        "no cartesian pairing" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")),
        "pair counts partial before shuffle" -> (_.contains("partial_count"))),
      "q11_part_value_share" -> Map(
        "grand total broadcast back, not collected" ->
          (_.contains("BroadcastNestedLoopJoin")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "emb_kmeans" -> Map(
        // assignment must stay a map-side argmin over literal
        // centroids: no join in the final plan, one small agg shuffle
        "no join in assignment" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "ann_pq_topk" -> Map(
        // ADC scan: probes broadcast against the map-side
        // reconstruction; the shortlist must ride the native bounded
        // heaps, never a corpus-wide window sort
        "probes broadcast" -> (_.contains("BroadcastNestedLoopJoin")),
        "shortlist via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "dedup_incremental" -> Map(
        // the corpus side must come from the committed index attempt,
        // not a recomputation over the corpus text (full scan roots)
        "reads persisted corpus index" -> (p => operators.IndexStore.committed(
          operators.DedupOps.IncrementalIndex.Name,
          operators.DedupOps.IncrementalIndex.key(sfDir, 0.5)).exists(a =>
            p.contains(new org.apache.hadoop.fs.Path(a).toUri.getPath + "/"))),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "mm_mp4_meta" -> Map(
        // parse is map-only per payload: container bytes never
        // shuffle — the only exchange is the output sort
        "map-only before the output sort" -> (p =>
          !p.contains("Join") &&
          "Exchange".r.findAllIn(p).size <= 1)),
      "mm_exif_meta" -> Map(
        // same shape: JPEG/EXIF walk is map-only per payload
        "map-only before the output sort" -> (p =>
          !p.contains("Join") &&
          "Exchange".r.findAllIn(p).size <= 1)),
      "mm_exif_gps" -> Map(
        // sub-IFD walk is map-only per payload (r9)
        "map-only before the output sort" -> (p =>
          !p.contains("Join") &&
          "Exchange".r.findAllIn(p).size <= 1)),
      "mm_mp4_samples" -> Map(
        // stbl walk + per-doc sync explode: map-only per payload (r9)
        "map-only before the output sort" -> (p =>
          !p.contains("Join") &&
          "Exchange".r.findAllIn(p).size <= 1)),
      "mm_mp4_byteranges" -> Map(
        // chunk-table walk + per-doc sync explode: map-only (r9)
        "map-only before the output sort" -> (p =>
          !p.contains("Join") &&
          "Exchange".r.findAllIn(p).size <= 1)),
      "mm_image_resize" -> Map(
        // decode → box resample → re-encode → decode: map-only (r9)
        "map-only before the output sort" -> (p =>
          !p.contains("Join") &&
          "Exchange".r.findAllIn(p).size <= 1)),
      "ann_bq_topk" -> Map(
        // the 1-bit stage must shuffle only bounded heaps: BOTH the
        // Hamming shortlist and the rerank run through the partial+
        // final TopKPerKey operator, probes ride a broadcast
        "bounded heaps for shortlist and rerank" -> (p =>
          "TopKPerKey".r.findAllIn(p).size >= 2),
        "probes broadcast" -> (_.contains("BroadcastExchange")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "ann_ivfbq_topk" -> Map(
        // the composed index: probed-cell Hamming through bounded
        // heaps (shortlist + rerank), probe cells broadcast, and NO
        // shuffle between the corpus scan and the cell/signature
        // projection (one map-side pass computes both structures)
        "bounded heaps for shortlist and rerank" -> (p =>
          "TopKPerKey".r.findAllIn(p).size >= 2),
        "probe cells broadcast" -> (_.contains("BroadcastExchange")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "emb_matryoshka_eval" -> Map(
        // per-dim ranking is bounded (partial+final heaps per
        // (dim, probe)); probes broadcast; the 4-way dim explode is
        // map-side — no join fans out the candidate space
        "bounded per-dim heaps" -> (_.contains("TopKPerKey")),
        "probes broadcast" -> (_.contains("BroadcastExchange")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "dedup_containment" -> Map(
        // content-grain rewrite (r8): no cartesian anywhere, and the
        // member-expansion joins stay equi-joins on the fingerprint
        "no cartesian in rep join or expansion" -> (p =>
          !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")),
        // the df/rank stage runs ONCE behind the eager checkpoint —
        // both prefix and posting branches must read the materialized
        // ranked frame, not recompute it (the cappedPairs double-eval
        // lesson); the rep min-agg recomputes over the CUT members
        // frame (materializing the agg output itself measured 13 s →
        // 29 s at the stress decade — join-planning perturbation).
        // Six reads: as many as the members cache had scans when it
        // was a persisted plan
        "ranked postings checkpointed once" -> (p =>
          "Scan ExistingRDD\\[key".r.findAllIn(p).size >= 2),
        "members read from a cut" -> (p =>
          "Scan ExistingRDD\\[fp".r.findAllIn(p).size >= 6)),
      "pipeline_curate" -> Map(
        // the decontamination gram join keeps the benchmark set (the
        // small side by construction) broadcast; no stage of the
        // funnel may degenerate to an all-pairs plan
        "broadcast join present" -> (_.contains("BroadcastHashJoin")),
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_pagerank" -> Map(
        // the fact-scale edge derivation is checkpointed BEFORE the
        // loop: the iteration plan reads the materialized edge RDD and
        // the only parquet left is the nation dim on the way out — a
        // lineitem scan here would mean the loop re-derives the graph
        // every round
        "facts out of the loop (checkpointed edges)" -> (p =>
          p.contains("ExistingRDD") &&
          "Scan parquet".r.findAllIn(p).size <= 1),
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "text_seed_sim" -> Map(
        // sparse cosine = posting-list equi-joins; a nested-loop or
        // cartesian would mean the probe×corpus pairing went dense
        "posting join stays equi-join" -> (p =>
          !p.contains("CartesianProduct")),
        "ranked through native TopKPerKey heaps" ->
          (_.contains("TopKPerKey")),
        "dot products partial before shuffle" -> (_.contains("partial_"))),
      "q_triangle_count" -> Map(
        // the support-filtered edge set is checkpointed: the counting
        // plan intersects adjacency arrays over the materialized RDD
        // with NO parquet re-scan (itemset pair-gen consumed lineitem
        // exactly once, at checkpoint build)
        "facts consumed once (checkpointed edges)" -> (p =>
          p.contains("ExistingRDD") &&
          !p.contains("Scan parquet")),
        "no cartesian wedge pairing" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")),
        "corner count partial before shuffle" -> (_.contains("partial_count"))),
      "text_chunk_passages" -> Map(
        // document→passage explosion is a pure scan→project pipeline:
        // any join or aggregate here means chunking stopped being
        // embarrassingly parallel
        "map-only chunk explosion (no join, no agg)" -> (p =>
          !p.contains("Join") && !p.contains("HashAggregate")),
        "whole-stage codegen" -> (_.contains("WholeStageCodegen subtree"))),
      "q_bfs_distance" -> Map(
        // every BFS round is checkpointed: the final plan unions
        // materialized RDD levels — a parquet scan here would mean a
        // round re-derived the co-purchase graph from the fact table
        "levels checkpointed (no parquet rescan)" -> (p =>
          p.contains("ExistingRDD") && !p.contains("Scan parquet")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "text_langid_ngram" -> Map(
        // KB-sized learned profiles must broadcast against the
        // exploded eval trigrams; profile fit rides the native heaps
        "profiles broadcast to the scoring join" ->
          (_.contains("BroadcastHashJoin")),
        "profile fit through native TopKPerKey" -> (_.contains("TopKPerKey")),
        "trigram counts partial before shuffle" -> (_.contains("partial_count"))),
      "q_pack_shards" -> Map(
        // packing = ONE shuffle: the window partitions by source and
        // the shard agg reuses that partitioning via partial aggs; a
        // second wide exchange would mean the cumsum left its partition
        "cumsum window present" -> (p => "\\bWindow\\b".r.findAllIn(p).size == 1),
        "shard mass partial before shuffle" -> (_.contains("partial_")),
        "no join anywhere" -> (p => !p.contains("Join"))),
      "q_heavy_hitters" -> Map(
        // exact candidates ride the native bounded heaps; the sketch
        // estimate is a map-side UDF over the broadcast CMS
        "candidates through native TopKPerKey" -> (_.contains("TopKPerKey")),
        "exact counts partial before shuffle" -> (_.contains("partial_count"))),
      "q_zorder_layout" -> Map(
        // bucket + Morton interleave are scan-time bit arithmetic; the
        // report is one partial+final agg on file_id — any join or
        // window here would mean the layout pass stopped being map-side
        "no join, no window" -> (p =>
          !p.contains("Join") && !"\\bWindow\\b".r.findFirstIn(p).isDefined),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "only custkey+orderdate read" -> (p =>
          p.contains("o_custkey") && !p.contains("o_totalprice"))),
      "q_hilbert_layout" -> Map(
        // the native Hilbert2DExpr must stay inside whole-stage
        // codegen at scan time — same map-side discipline as Z-order
        "no join, no window" -> (p =>
          !p.contains("Join") && !"\\bWindow\\b".r.findFirstIn(p).isDefined),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "codegen scan stage" -> (_.contains("WholeStageCodegen subtree")),
        "only custkey+orderdate read" -> (p =>
          p.contains("o_custkey") && !p.contains("o_totalprice"))),
      "q_bm25_search" -> Map(
        // df (3 rows) and corpus stats (1 row) broadcast; the final
        // top-20 is a bounded heap, never a global sort
        "df and stats broadcast" -> (p =>
          "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2),
        "top-20 is TakeOrderedAndProject" -> (_.contains("TakeOrderedAndProject")),
        "tf partial agg before shuffle" -> (_.contains("partial_count"))),
      "text_char_diversity" -> Map(
        // the (doc_id, ch) count must partial-aggregate map-side: the
        // per-doc alphabet bounds the shuffle, not the doc length
        "char counts partial before shuffle" -> (_.contains("partial_count")),
        "no join" -> (p => !p.contains("Join")),
        "only doc_id+text read" -> (p => !p.contains("n_chars,"))),
      "dedup_cdc_chunks" -> Map(
        // chunking is one per-doc window (in-partition running sum);
        // the cross-doc group is partial-agg'd; nothing joins
        "single per-doc window" -> (p =>
          "\\bWindow\\b".r.findAllIn(p).size == 1 &&
          p.contains("windowspecdefinition(doc_id")),
        "no join" -> (p => !p.contains("Join")),
        "chunk group partial before shuffle" -> (_.contains("partial_"))),
      "dedup_semantic" -> Map(
        // centroids are literals (map-side assignment — no join to a
        // centroid table); the pairwise join keys on cluster_id and
        // must stay an equi-join, never a cartesian
        "no cartesian pairwise" -> (p => !p.contains("CartesianProduct")),
        "cluster-keyed equi-join" -> (p =>
          "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(p).isDefined),
        // r9 de-weaken: the salt blocks must reach the physical join
        // keys (one giant cluster ⇒ (nᵢ/nb)² per task, not nᵢ²)
        "salt blocks in join keys" -> (_.contains("__semblk")),
        // and the quadratic pair stream must rank through bounded
        // TopKPerKey heaps — the only Window sits ABOVE the heap
        // operator (parents print first in the formatted tree), so it
        // ranks ≤ k·top survivors, never the pair stream
        "pairs ranked through native TopKPerKey" ->
          (_.contains("TopKPerKey")),
        "no full window over the pair stream" -> (p => {
          val iW = p.indexOf("Window")
          val iT = p.indexOf("TopKPerKey")
          iW >= 0 && iT >= 0 && iW < iT &&
            "\\bWindow\\b".r.findAllIn(p).size == 1
        })),
      "emb_pca_power" -> Map(
        // the fitted model enters as literals: scoring the corpus must
        // be a pure map (no join to a component table) and the top-k a
        // bounded TakeOrdered, not a global sort
        "model scored join-free" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "bounded top-k" -> (_.contains("TakeOrderedAndProject"))),
      "text_hash_lr" -> Map(
        // the hashing trick means NO vocabulary build: the whole
        // classifier is one map pass — no join, no aggregation, and
        // only the output-ordering sort's exchange
        "no join (no vocab table)" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "no aggregation pass" -> (p => !p.contains("HashAggregate")),
        "single exchange (output sort only)" -> (p =>
          "Exchange".r.findAllIn(p).size <= 1),
        "only doc_id+text read" -> (p => !p.contains("n_chars"))),
      "dedup_containment" -> Map(
        // one-sided prefix filter: A-prefix × B-full must stay an
        // equi-join on the shingle key, never a cartesian
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
        "semi/anti-free equi-join candidates" -> (p =>
          "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(p).isDefined)),
      "q_attribution" -> Map(
        // both touch models ride ONE events scan and ONE user_id
        // shuffle: the two frames (range for first, row for last)
        // split into two Window operators but share the same sort —
        // the unpivot/stack keeps the pipeline single-pass where a
        // union of groupBys re-derived scan+shuffle per branch
        "single events scan" -> (p =>
          "FileScan parquet".r.findAllIn(p).size <= 1),
        "one user_id shuffle for both touches" -> (p =>
          "hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
        "windows share the sort (no inter-window sort)" -> (p =>
          "\\bSort \\[".r.findAllIn(p).size <= 2),
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
      ),
      "q_collocations" -> Map(
        // the c_ab >= 5 Zipf-tail prune must happen in the aggregate
        // (partial map-side) BEFORE the two vocabulary joins, and the
        // corpus total enters as a literal, never a cross join
        "partial agg before shuffle" -> (_.contains("partial_count")),
        "no cartesian (total is a literal)" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "bounded top-k" -> (_.contains("TakeOrderedAndProject"))),
      "q_merge_upsert" -> Map(
        // MERGE compiles to ONE full-outer equi-join pass — all three
        // change kinds resolve in it; no per-kind joins, no cartesian
        "single full-outer equi-join" -> (p =>
          "FullOuter".r.findAllIn(p).size == 1),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "text_dsir_importance" -> Map(
        // the bucket-stats/ratio table is B rows — it must come back
        // to the gram stream as a BROADCAST, never a shuffle join,
        // and gram bucketing is map-side partial-agg'd
        "ratio table broadcast back" -> (_.contains("BroadcastHashJoin")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no cartesian beyond 1-row totals" -> (p =>
          !p.contains("CartesianProduct"))),
      "text_bpe_encode" -> Map(
        // the ENCODE pass is pure map: merges ride as literals in
        // chained projections — no join anywhere, the only exchanges
        // are the per-doc agg and the output sort
        "no join (merge table is literal)" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "at most agg+sort exchanges" -> (p =>
          "Exchange".r.findAllIn(p).size <= 2)),
      "ann_ivfpq_residual_topk" -> Map(
        // residual arithmetic must stay free: cell assignment +
        // residual subtract + encode + reconstruct all map-side, the
        // candidate join an equi-join on the probed cell
        "no cartesian assignment" -> (p =>
          !p.contains("CartesianProduct")),
        "no per-vector window shuffle" -> (p =>
          !p.contains("windowspecdefinition(vec_id"))),
      "dedup_span_coverage" -> Map(
        // the dup-window filter is a hash-keyed count + equi-join —
        // never pairwise; the window-hash count partial-aggs map-side
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
        // the only window fold is the per-doc sorted-gap pass
        "single per-doc window" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size == 1)),
      "q_domain_cap" -> Map(
        // the kept set comes from bounded per-key heaps, not a full
        // per-domain window sort over every row
        "kept set via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no window row_number scan" -> (p =>
          !p.contains("windowspecdefinition")),
        "summaries broadcast-joined" -> (_.contains("BroadcastHashJoin")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "ann_incremental_topk" -> Map(
        // the whole point of the cell-partitioned persisted index:
        // the probed-cell predicate must prune index partitions at
        // the STATIC listing level, not via a runtime DPP subquery
        "probed cells prune index partitions" -> (p =>
          "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined),
        "ranked through native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_kmv_distinct" -> Map(
        // sketch build = distinct + bounded heaps; the k-row summary
        // and the exact side must come back broadcast, and the
        // distinct partial-aggregates map-side
        "bottom-k via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "exact side broadcast" -> (_.contains("BroadcastHashJoin")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_priority_sample" -> Map(
        // selection through bounded heaps; the rank/τ window and the
        // τ join only ever see the ≤(k+1)-per-source survivors
        "selection via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "tau joined broadcast" -> (_.contains("BroadcastHashJoin")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_negative_pairs" -> Map(
        // both pair sides ride bounded heaps off the broadcast-probe
        // scan; no per-candidate RNG, no full-corpus window sort
        "shortlists via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "probe side broadcast" -> (_.contains("Broadcast")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_pareto_docs" -> Map(
        // the skyline is NOT the O(n²) NOT-EXISTS the oracle runs:
        // one length-keyed partial agg (runs in the pre-checkpoint
        // job Ranked pins, so it is invisible to THIS plan string),
        // a range-partitioned prior-max over the distinct lengths
        // only, broadcast join back — corpus cost is one scan
        "frontier broadcast back" -> (_.contains("BroadcastHashJoin")),
        "prior-max window pid-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(__pid".r.findAllIn(p).size),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_vocab_growth" -> Map(
        // two stacked partial+final aggs, zero joins — the vocabulary
        // shuffle is keyed by (source, token), never by document
        "no join" -> (p => !p.contains("Join")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "mm_frame_sample" -> Map(
        // metadata-driven explode is pure map: no join, no agg, the
        // only exchange is the output sort
        "no join" -> (p => !p.contains("Join")),
        "map-only before sort" -> (p =>
          "Exchange".r.findAllIn(p).size <= 1)),
      "text_perceptron_train" -> Map(
        // the trained 64-weight table rides as an array LITERAL: the
        // scoring pass is join-free, one per-doc partial+final agg
        "weights are literals (no join)" -> (p => !p.contains("Join")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_xcorr_lags" -> Map(
        // corpus shuffle = ONE (type,hour) count; lag join and the
        // per-lag fold run on the tiny hourly series with the lag
        // spine broadcast
        "partial agg before shuffle" -> (_.contains("partial_")),
        "lag spine broadcast" -> (_.contains("Broadcast")),
        "series join is equi" -> (_.contains("BroadcastHashJoin")),
        "no cartesian beyond lag spine" -> (p =>
          !p.contains("CartesianProduct"))),
      "q_decayed_revenue" -> Map(
        // 1-row max-date broadcast + one partial+final agg; dyadic
        // weights are a projection, not a join or UDF
        "max-date broadcast" -> (_.contains("Broadcast")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no cartesian beyond the 1-row max" -> (p =>
          "CartesianProduct".r.findAllIn(p).size <= 1)),
      "dedup_minhash_calibration" -> Map(
        // candidates come from the band-keyed equi-join, never
        // all-pairs; the signature/shingle joins resolve per candidate
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
        "band-keyed shuffle join" -> (_.contains("hashpartitioning"))),
      "q_top_paths" -> Map(
        // the path histogram ranks through bounded heaps, not a
        // global sort; one user window + one path count, no joins
        "top paths via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join" -> (p => !p.contains("Join"))),
      "q_rolling_revenue" -> Map(
        // one customer-keyed RANGE window, global top-20 through
        // bounded heaps — never a global sort of all rolling sums
        "top windows via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "single range window" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size == 1),
        "no join" -> (p => !p.contains("Join"))),
      "q_funnel_ordered" -> Map(
        // three chained user-keyed min-aggs; every stage partial,
        // only (user_id, ts) ever shuffles; the 1-row counts may
        // cross-join but nothing corpus-sized does
        "partial agg before shuffle" -> (_.contains("partial_")),
        "steps join on user equi" -> (p =>
          p.contains("Join") && !p.contains("CartesianProduct") ||
            "CartesianProduct".r.findAllIn(p).size <= 2),
        "no corpus-sized window" -> (p =>
          !p.contains("windowspecdefinition"))),
      "q_sql_cosine_topk" -> Map(
        // the SQL string must reach the SAME native expression and
        // plan class as the DSL twin: codegen'd cosine, broadcast
        // probes, no cartesian
        "native cosine in plan" -> (p =>
          p.toLowerCase.contains("cosinesim") || p.contains("cosine_sim")),
        "probes broadcast" -> (_.contains("Broadcast")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "emb_dim_stats" -> Map(
        // one explode + one dim-keyed partial+final agg, no joins —
        // 64 rows out at any corpus size
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join" -> (p => !p.contains("Join"))),
      "q_abandoned_views" -> Map(
        // the temporal NOT-EXISTS rides one user-keyed equi-join
        // with the range predicate in the condition — never a
        // cartesian, and both aggs partial map-side
        "user-keyed equi-join" -> (p =>
          !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_robust_outliers" -> Map(
        // the 5-row median/MAD summaries come back BROADCAST; the
        // corpus is scanned, never shuffled on anything but type
        "summaries broadcast back" -> (_.contains("BroadcastHashJoin")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_cohort_ltv" -> Map(
        // cohort sizes broadcast; the cumulative window runs over
        // (cohort, age) aggregates — days × cohorts rows, not events
        "cohort sizes broadcast" -> (_.contains("BroadcastHashJoin")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "single cum window" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size == 1),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_link_prediction" -> Map(
        // wedges join on the middle vertex (equi, never all-pairs),
        // known edges leave via LEFT ANTI, degrees broadcast, top 20
        // through bounded heaps
        "anti-join removes known edges" -> (_.contains("LeftAnti")),
        "degrees broadcast" -> (_.contains("BroadcastHashJoin")),
        "top links via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_seasonality" -> Map(
        // one partial+final count; the 5-row totals broadcast back
        "partial agg before shuffle" -> (_.contains("partial_")),
        "totals broadcast" -> (_.contains("BroadcastHashJoin")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_skew_gini" -> Map(
        // the rank window runs over the per-USER aggregate (n_users
        // rows), never raw events; counts partial-agg map-side
        "partial agg before shuffle" -> (_.contains("partial_")),
        "single per-user rank window" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size == 1),
        "rank window pid-partitioned" -> (p =>
          "windowspecdefinition\\(__pid".r.findAllIn(p).size == 1),
        // only Ranked's bounded offsets broadcast — never a shuffle join
        "no shuffle join" -> (p =>
          !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))),
      "text_ngram_novelty" -> Map(
        // first-occurrence via a gram-keyed min-agg joined back on
        // the same key — never a window over the corpus timeline
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no timeline window" -> (p => !p.contains("windowspecdefinition")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_chi2_terms" -> Map(
        // presence counts shuffle by vocab, the 1-row totals ride a
        // broadcast, ranking through bounded heaps
        "partial agg before shuffle" -> (_.contains("partial_")),
        "top terms via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no cartesian beyond 1-row totals" -> (p =>
          "CartesianProduct".r.findAllIn(p).size <= 1)),
      "q_basket_rules" -> Map(
        // supports broadcast onto the rule stream, ranking through
        // bounded heaps, order-pair scan is an equi-join
        "supports broadcast" -> (_.contains("BroadcastHashJoin")),
        "top rules via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_dormancy_gaps" -> Map(
        // one user-keyed lead window; the gap argmax is a struct max
        // inside the agg — no second window, no join
        "single user window" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size == 1),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join" -> (p => !p.contains("Join"))),
      "q_ab_ztest" -> Map(
        // signup mins fold before the user-keyed equi-join; the final
        // z computes on a 1-row frame — no window, no cartesian
        "partial agg before shuffle" -> (_.contains("partial_")),
        "user equi-join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "ann_lsh_scheduled_mass" -> Map(
        // the scheduled-dial audit is two stacked key aggregations
        // over the persisted signature index — partial+final both
        // levels, no join at all in the served plan
        "partial agg before shuffle" -> (_.contains("partial_")),
        // r12 advice: the served plan has no join AT ALL — assert
        // that directly (the old disjunct-list form let a
        // BroadcastNestedLoopJoin, the worst degradation, slip by)
        "no join in the occupancy fold" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_compact_binpack" -> Map(
        // the manifest scan is ordered PER PARTITION (source-keyed
        // window) — a global running sum would single-thread the
        // manifest at scale; report is partial+final on (source, bin)
        "running sum partitioned by source" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(source".r.findAllIn(p).size),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join" -> (p => !p.contains("Join"))),
      "q_mann_whitney" -> Map(
        // the joint rank runs through Ranked's range-partition +
        // offset decomposition — every window is __pid-partitioned,
        // never a global sort to one partition
        "rank window pid-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(__pid".r.findAllIn(p).size),
        "joins stay equi" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "src_sequencefile" -> Map(
        // read fans out through the splittable InputFormat; the
        // rollup is one partial+final agg — no join, no window
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join" -> (p => !p.contains("Join")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "ann_lsh_multiword_mass" -> Map(
        // the multi-word tier's audit has the same served shape as
        // the scheduled row: two stacked key aggs over the persisted
        // 5-word signature index — no join, no window
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join in the occupancy fold" -> (p =>
          !p.contains("Join") && !p.contains("CartesianProduct")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "stream_hnsw_ingest" -> Map(
        // r13: the gate frame is (arrival split) LEFT equi-join
        // (ranked sink rows) — the rank window keyed per arrival,
        // never a global window, and no nested-loop degradation
        "joins stay equi" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "rank window arrival-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(vec_id".r.findAllIn(p).size)),
      "text_minhash_decontaminate" -> Map(
        // cross-set candidates come from the band-key EQUI-join;
        // the per-side rank caps are key-partitioned windows — the
        // bipartite join must never degrade to a nested loop
        "band join stays equi" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "rank-cap windows key-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(key".r.findAllIn(p).size)),
      "emb_pq_distortion" -> Map(
        // encode/decode are map-side; one vec-keyed join to the raw
        // vectors and a 4-row band fold
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_sql_topk_rewrite" -> Map(
        // THE point: the plain-SQL window idiom must compile to the
        // native bounded-heap operator via the injected rule
        "rewrite fired (native TopKPerKey present)" ->
          (_.contains("TopKPerKey")),
        "window survives above the prune (rank column intact)" ->
          (_.contains("windowspecdefinition"))),
      "dedup_keep_best" -> Map(
        // argmax survivor is a struct max inside the cluster fold —
        // no window; scoring map-side
        "no window (struct argmax)" -> (p =>
          !p.contains("windowspecdefinition")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_data_split" -> Map(
        // map-only hash routing + one (source, split) fold; totals
        // broadcast back
        "partial agg before shuffle" -> (_.contains("partial_")),
        "totals broadcast" -> (_.contains("BroadcastHashJoin")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_gap_fill_interpolate" -> Map(
        // both carry windows run over the calendar SPINE, and they
        // share one global order = one sort
        "spine-sized windows only" -> (p =>
          "windowspecdefinition".r.findAllIn(p).toSeq.distinct.size <= 2),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_window_ranks" -> Map(
        // all four rank functions share one (partition, order) spec
        "one window operator for four functions" -> (p =>
          "\\bWindow\\b".r.findAllIn(p).size <= 1),
        "partial agg at most trivial" -> (p => !p.contains("CartesianProduct"))),
      "q_pit_join" -> Map(
        // interval containment is a RESIDUAL on the user equi-join —
        // never a global inequality join
        "user equi-join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_lorenz_revenue" -> Map(
        "partial agg before shuffle" -> (_.contains("partial_")),
        "rank window over the per-customer aggregate" -> (p =>
          "windowspecdefinition".r.findAllIn(p).toSeq.distinct.size <= 2),
        // decile-bounded non-equi joins only: the <=10-row triangular
        // cumulative fold plus the 1-row totals broadcast
        "bounded non-equi joins only" -> (p =>
          "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size <= 2)),
      "q_growth_accounting" -> Map(
        // the (day,user) dedup is the only event-grain shuffle;
        // classification joins run at activity grain
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_time_to_convert" -> Map(
        // the bisection ran during construction (driver loop over a
        // users-sized aggregate); the result is a 1-row local
        // relation — no sort, no window ever materialized
        "no window (bisection, not sort)" -> (p =>
          !p.contains("windowspecdefinition")),
        "1-row local result" -> (_.contains("LocalTableScan"))),
      "ann_filtered_topk" -> Map(
        // the filter must reach the parquet scan — pre-filtering is
        // the whole point vs post-filtering a global shortlist
        "label filter pushed to scan" -> (p =>
          "PushedFilters: \\[[^\\]]*EqualTo\\(label".r.findFirstIn(p).isDefined),
        "probes broadcast" -> (_.contains("BroadcastNestedLoopJoin"))),
      "q_frequent_triples" -> Map(
        // candidates come from the frequent-pair self-join, never a
        // raw cartesian; the semi-join prunes before counting
        "semi-join prune" -> (_.contains("LeftSemi")),
        "no cartesian" -> (p => !p.contains("CartesianProduct")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_concurrent_sessions" -> Map(
        // the sweep runs over session-grain deltas; only the session
        // fold touches event grain (user-keyed windows). Ranked's
        // bounded offsets broadcast is the only join
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no shuffle join" -> (p =>
          !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")),
        "sweep window pid-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(__pid".r.findAllIn(p).size)),
      "mm_cdc_chunks" -> Map(
        // windows/boundaries map-only; the chunk groupBy is the only
        // corpus shuffle; boundary lists fold per media row
        "no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_markov_accuracy" -> Map(
        // model + mode ride broadcasts onto the test stream; the only
        // corpus-keyed work is the user-partitioned lead window
        "model broadcast" -> (_.contains("BroadcastHashJoin")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_profile_table" -> Map(
        // ONE scan feeds all four column profiles (stack-unpivot)
        "single lineitem scan" -> (p =>
          "Scan parquet".r.findAllIn(p).size <= 1),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_uplift_quintiles" -> Map(
        "partial agg before shuffle" -> (_.contains("partial_")),
        "quintile window over the per-user aggregate" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size == 1),
        "1-row t0 broadcast only" -> (p =>
          "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size <= 1)),
      "q_ab_cuped" -> Map(
        // two user-keyed conditional aggs + a 1-row moment fold;
        // t0 rides a 1-row broadcast
        "partial agg before shuffle" -> (_.contains("partial_")),
        "1-row t0 broadcast only" -> (p =>
          "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size <= 1),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_attribution_decay" -> Map(
        // the purchase⋈touch join is user-keyed (bounded by per-user
        // activity); rank + mass windows share the pid partition
        "user equi-join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_snapshot_diff" -> Map(
        // one key-shuffled full-outer join + a 4-row fold
        "single outer join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_events_hopping" -> Map(
        // the 3-pane assignment explodes map-side; one (window, type)
        // partial+final fold — no join at all
        "no join" -> (p => !p.contains("Join")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_bloom_semijoin" -> Map(
        // the bloom filter prunes at the scan (a Filter above the
        // lineitem relation BEFORE the join); the exact semi-join
        // finishes correctness
        "semi join present" -> (_.contains("LeftSemi")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "mm_audio_segments" -> Map(
        // framing and gating are map-only; the islands fold is one
        // media-keyed window + one agg
        "no join" -> (p => !p.contains("Join")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_ivm_maintain" -> Map(
        // the delta path must never rescan the base beyond the ONE
        // pre-image equi-join; everything partial-aggs map-side
        "no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "q_seasonal_decompose" -> Map(
        // the MA window runs over the (type, day) aggregate — the
        // corpus folds first; one partition-keyed window only
        "single trend window" -> (p =>
          "windowspecdefinition".r.findAllIn(p).toSeq.distinct.size <= 2),
        "partial agg before shuffle" -> (_.contains("partial_")),
        "no join" -> (p => !p.contains("Join"))),
      "q_entity_clusters" -> Map(
        // matching is the blocking equi-join; CC is star contraction
        // (joins + aggs, no window); summary partial-aggs map-side
        "no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no window" -> (p => !p.contains("windowspecdefinition")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_equidepth_hist" -> Map(
        // after the driver-side bisection, bucketing is ONE pass with
        // broadcast bounds — no sort, no window, no ntile
        "no sort-based quantile (no window)" -> (p =>
          !p.contains("windowspecdefinition")),
        "bounds broadcast" -> (_.contains("BroadcastHashJoin")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_graph_modularity" -> Map(
        // L_c and d_c are equi-joins + partial aggs; m is a 1-row
        // broadcast; no window anywhere
        "partial agg before shuffle" -> (_.contains("partial_")),
        "1-row m broadcast only" -> (p =>
          "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size <= 1),
        "no window" -> (p => !p.contains("windowspecdefinition"))),
      "mm_phash_neardup" -> Map(
        // signatures move, payloads don't: the band equi-join is the
        // only corpus shuffle; hamming computes on candidates only
        "band equi-join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_")),
        // the only windows are the Blocking anchor cap's band-keyed
        // row_numbers (never global — the cap that bounds a
        // degenerate band also rides the band-key exchange)
        "windows band-keyed only" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(key".r.findAllIn(p).size)),
      "ann_radius_search" -> Map(
        // candidates come only from the band equi-join (the LSH
        // index), threshold is a filter — no top-k machinery, no
        // window, no cartesian
        "band equi-join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "no window, no heap (pure filter serve path)" -> (p =>
          !p.contains("windowspecdefinition") && !p.contains("TopKPerKey"))),
      "text_rake_keywords" -> Map(
        // word and phrase stats are partial+final aggs on vocab-sized
        // keys; the top 20 ranks through bounded heaps
        "partial agg before shuffle" -> (_.contains("partial_")),
        "top phrases via native TopKPerKey" -> (_.contains("TopKPerKey")),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "q_label_propagation" -> Map(
        // each LPA round is an edge⋈labels equi-join + struct-argmax
        // fold — no window anywhere, no cartesian
        "no window (argmax is a struct max)" -> (p =>
          !p.contains("windowspecdefinition")),
        "no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_model_gains" -> Map(
        // corpus-scale work is the per-doc margin agg; the decile
        // rank runs range-partitioned AFTER it, and the only
        // non-equi joins are decile-bounded (≤10-row triangular
        // cumulative fold) or 1-row (totals broadcast)
        "partial agg before shuffle" -> (_.contains("partial_")),
        "bounded non-equi joins only" -> (p =>
          "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size <= 2)),
      "q_scd2_history" -> Map(
        // both windows share the user partition key: the corpus
        // shuffles ONCE on user_id, both sorts ride that exchange
        "single user-key exchange" -> (p =>
          "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
        "no join" -> (p => !p.contains("Join"))),
      "q_record_linkage" -> Map(
        // candidates come only from the blocking-key equi-join —
        // never an all-pairs product; summary partial-aggs map-side
        "blocking equi-join, no cartesian" -> (p =>
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")),
        "partial agg before shuffle" -> (_.contains("partial_"))),
      "q_rfm_segments" -> Map(
        // orders fold to per-customer rows FIRST; the three quintile
        // ranks run over that aggregate (the corpus never sorts)
        // range-partitioned by metric — every window carries the
        // __pid partition key, none is global
        "partial agg before shuffle" -> (_.contains("partial_")),
        // each Ranked call checkpoints, so only the LAST rank's
        // window appears in this plan string — assert every window
        // that does appear is pid-partitioned
        "rank windows pid-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(__pid".r.findAllIn(p).size),
        "1-row as-of broadcast only" -> (p =>
          "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size <= 1)),
      "ann_hnsw_topk" -> Map(
        // the hop rounds (broadcast frontier equi-joins) run in the
        // pre-checkpoint jobs; the visible plan is the final ranking
        // over the checkpointed beam — a probe-partitioned window,
        // never global, and no cartesian anywhere
        "no corpus cartesian" -> (p => !p.contains("CartesianProduct")),
        "final rank probe-partitioned" -> (p =>
          p.contains("windowspecdefinition(pid"))),
      "text_decontaminate_spans" -> Map(
        // the segmented scans run pre-checkpoint; the visible plan is
        // the span fold — every window doc-partitioned, no cartesian
        "span windows doc-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(doc_id".r.findAllIn(p).size),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))),
      "dedup_exact_substr" -> Map(
        // suffix machinery runs in the pre-checkpoint rounds; the
        // visible plan is the span fold — doc-partitioned windows
        // only, offsets broadcast, never a shuffle join. (The r5 form
        // of this check matched a string an unpartitioned window
        // never prints — vacuously true; this is the same every-
        // window-is-prefixed assertion the other audits use.)
        "span windows doc-partitioned" -> (p =>
          "windowspecdefinition".r.findAllIn(p).size ==
            "windowspecdefinition\\(doc_id".r.findAllIn(p).size),
        "no cartesian" -> (p => !p.contains("CartesianProduct"))))

    // AQE prints the pre-execution plan without codegen stage marks,
    // so append the codegen-mode explain (which compiles the stages)
    // and every file scan's full root paths (locations print cut)
    def planText(qe: org.apache.spark.sql.execution.QueryExecution): String = {
      val executed = qe.executedPlan
      val scanRoots = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}.collect(executed) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString("\n")
      }
      executed.toString + "\n" +
        qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen")) +
        "\n" + scanRoots.mkString("\n")
    }
    // a cut prints as `Scan ExistingRDD`, hiding the subtree it
    // materialized: the checks of these rows, whose reused corpus
    // frames are cut, also read the plan of every frame the row cut
    // while it was built
    val readsCuts = Set("dedup_minhash_lsh", "dedup_embedding", "dedup_incremental",
      "ann_bq_topk", "emb_matryoshka_eval", "dedup_containment", "pipeline_curate",
      "dedup_semantic", "dedup_minhash_calibration", "text_minhash_decontaminate")

    var failures = 0
    audits.foreach { case (name, checks) =>
      val cuts = scala.collection.mutable.ArrayBuffer.empty[String]
      val df = operators.Checkpoints.observing(qe => if (readsCuts(name)) cuts += planText(qe))(
        SparkEntry.queries(name)(spark, sfDir))
      val plan = (planText(df.queryExecution) +: cuts).mkString("\n")
      println(s"== $name")
      checks.foreach { case (label, check) =>
        val ok = check(plan)
        if (!ok) failures += 1
        println(s"   ${if (ok) "PASS" else "FAIL"}  $label")
      }
    }
    // ---- global invariant: NO unpartitioned Window node, anywhere ----
    // A Window whose partitionSpec is empty moves its whole input to
    // ONE partition (WindowExec's "serious performance degradation"
    // warning) — the one systematic scale defect the engine has shipped
    // and removed (r4 verdict). This sweep walks the OPTIMIZED logical
    // plan of every registered query so the invariant is machine-
    // checked for all of them, not just the audited subset. Queries
    // whose construction runs driver-loop jobs (bisection, k-means)
    // pay that cost here; planning alone never executes the frame.
    println("== global: no unpartitioned Window in any registered query")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val bad = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty) {
          failures += 1
          println(s"   FAIL  $name: ${bad.size} unpartitioned window(s)")
        }
      } catch {
        case e: Exception =>
          failures += 1
          println(s"   FAIL  $name: audit errored: ${e.getMessage.take(120)}")
      }
    }
    println(s"   windows audited over ${SparkEntry.queries.size} queries")

    println(if (failures == 0) "ALL PLAN CHECKS PASS" else s"$failures CHECK(S) FAILED")
    failures
  }
}
