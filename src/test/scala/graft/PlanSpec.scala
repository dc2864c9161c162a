package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape guards — the properties that make these queries scale are
  * asserted, not assumed: broadcast joins stay broadcast, pushdown reaches
  * the scan, top-k never full-sorts, the merge shuffles once. A regression
  * that flips one of these still returns correct rows; these tests are what
  * catch it. */
class PlanSpec extends SparkSpecBase {

  private def finalPlan(df: DataFrame): String = {
    df.collect() // finalize AQE
    val s = df.queryExecution.executedPlan.toString
    // the adaptive plan prints "== Final Plan == ... == Initial Plan == ...";
    // assertions must only see the final one
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("c10 multiway join: all three dims broadcast, no sort-merge join") {
    val p = finalPlan(q("c10_multiway_join"))
    assert("BroadcastHashJoin".r.findAllIn(p).length === 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("c01 projection: column pruning reaches the parquet scan") {
    val p = finalPlan(q("c01_projection"))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string>"))
  }

  test("c02 filter: predicates pushed to the scan") {
    val p = finalPlan(q("c02_filter"))
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_quantity), EqualTo(l_returnflag,R)"))
  }

  test("c05 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = finalPlan(q("c05_topk"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("b3 merge shuffles exactly once on the primary key") {
    val p = finalPlan(q("b3_cdc_merge"))
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length >= 1)
    // one hash exchange for the window; the only other exchange is the
    // output ORDER BY's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
  }

  test("e06 cosine top-k: probe broadcast + TakeOrderedAndProject over the scan") {
    val p = finalPlan(q("e06_cosine_topk"))
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("graft_cosine"))
  }

  test("c16 rank filter gets WindowGroupLimit (bounded per-key heap, no full per-key sort at the limit stage)") {
    val p = finalPlan(q("c16_window_rank"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("c11 aggregation is two-phase (map-side partial before the shuffle)") {
    val p = finalPlan(q("c11_group_agg"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("runtime Bloom-filter join: selective build side injects might_contain on the probe side") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sfDir, "lineitem")
      val o = Tables.load(spark, sfDir, "orders")
        .filter(col("o_totalprice") > 400000)
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      // the selective dimension side builds a bloom filter that pre-filters
      // the fact scan — at 100 TB this skips most of the probe-side shuffle
      assert(j.queryExecution.optimizedPlan.toString.contains("might_contain"))
      assert(j.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("e27 PAA similarity: one series shuffle, probe broadcast, top-k heap") {
    val p = finalPlan(q("e27_ts_similarity"))
    // the corpus of PAA vectors is built with ONE keyed shuffle (partial
    // aggregation map-side); the 1-row probe broadcasts; the final k is a
    // bounded heap, never a global sort
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("e04b sparse jaccard: hot-shingle cut is a broadcast anti-join over the cached posting list") {
    // sf0.1: the only fixture where shingles exceed the df cut — at smaller
    // SFs the hot list is empty and Catalyst (correctly) eliminates the anti
    // join via empty-relation propagation, so there would be nothing to pin
    val p = finalPlan(SparkEntry.queries("e04b_jaccard_sparse")(spark, "/root/testdata/sf0.1"))
    // the df-cut must not shuffle the posting list against the hot list
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("SortMergeJoin(leftanti"), "anti join must broadcast, not shuffle")
    // the posting list is materialized once (localCheckpoint — GC-released,
    // see CacheHygieneSpec): consuming branches scan the checkpointed RDD
    // instead of recomputing the md5-shingle transform per branch
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    // and nothing in the pair pipeline degenerates to a nested-loop join
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("a11 partitioned read prunes to one partition directory") {
    val p = finalPlan(q("a11_partitioned_sink"))
    assert(p.contains("PartitionFilters: [isnotnull(op"))
  }

  test("e55 prefix-filtered similarity join: no cartesian stage, shingle base cached") {
    val p = finalPlan(q("e55_jaccard_prefix"))
    // candidate generation is a keyed equi-join on (lang, shingle) — the
    // prefix filter must never degenerate to a nested-loop pair scan
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the shingle projection is materialized once (localCheckpoint):
    // postings and both verify sides scan the checkpointed RDD instead of
    // recomputing the md5 transform
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
  }

  test("e04c blocked jaccard: the sealed overlap runs once, in a Project above the pair join") {
    // sf0.01: a timed near-dup kernel of the analyst benchmark. Unsealed,
    // the optimizer folds the jaccard filter into the pair join's condition
    // and spells the intersect there (twice, before the cheap prefilters)
    val sf001 = new java.io.File(sfDir).getParent + "/sf0.01"
    val p = finalPlan(SparkEntry.queries("e04c_jaccard_blocked")(spark, sf001))
    val lines = p.linesIterator.toSeq
    val at = lines.indexWhere(_.contains("array_intersect("))
    assert("array_intersect\\(".r.findAllIn(p).length === 1, p.take(4000))
    assert(lines(at).contains("Project ["), lines(at))
    assert(!lines.exists(l => l.contains("Join") && l.contains("array_intersect(")), p.take(4000))
    val join = lines.indexWhere(_.contains("Join"))
    assert(join > at, s"the overlap Project must sit above the pair join:\n${p.take(4000)}")
  }

  test("c55 basket lift: support joins broadcast, top-25 is a heap not a sort") {
    val p = finalPlan(q("c55_basket_lift"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("c57 top paths: sessionized path mining never goes cartesian") {
    val p = finalPlan(q("c57_top_paths"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("c52 fact scan is dynamically pruned by the dim-side year filter") {
    val p = finalPlan(q("c52_dpp_join"))
    // no static filter exists on the fact — the partition cut arrives at
    // runtime from the dim's broadcast (dynamicpruningexpression), so only
    // the qualifying month directories are read
    assert(p.contains("dynamicpruningexpression"), p.take(2000))
    // and column pruning still reaches the scan: the fact reads one column
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"), p.take(2000))
  }

  test("b9 SCD2 history shuffles exactly once on the primary key") {
    val p = finalPlan(q("b9_scd2_history"))
    // one hash exchange feeds the interval-closing window; the only other
    // exchange is the output ORDER BY's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(2000))
    assert(p.contains("lead(pos"), p.take(2000))
  }

  test("e23 quantization never shuffles the corpus: probe broadcast + top-k heap") {
    val p = finalPlan(q("e23_vector_quantize"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"),
      "quantized scan must stay map-side — no corpus shuffle")
  }

  test("e29 decontamination: the eval-set side is broadcast — the corpus join is map-side") {
    val p = finalPlan(q("e29_decontamination"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("b15 composite-key merge shuffles once on the (user_id, event_type) tuple") {
    val p = finalPlan(q("b15_composite_merge"))
    assert("hashpartitioning\\(user_id[#0-9L]*, event_type".r.findAllIn(p).nonEmpty,
      p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p.take(2000))
  }

  test("e31 PQ search: codebook and distance tables broadcast, ADC sum shuffles only codes") {
    val p = finalPlan(q("e31_pq_ann"))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("e35 OOV rate: the top-K vocabulary is broadcast — the token stream never shuffles for the join") {
    val p = finalPlan(q("e35_oov_rate"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only hash exchanges are the vocab build (group by token) and the
    // per-doc aggregate — the vocab JOIN itself must not add one
    assert(p.contains("TakeOrderedAndProject"), p.take(2000)) // vocab top-100
  }

  test("e36 weighted sample: per-partition top-k heap, no global sort of the corpus") {
    val p = finalPlan(q("e36_weighted_sample"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("e37 hard negatives: probe broadcast, label filter on the scan side, top-k heap") {
    val p = finalPlan(q("e37_hard_negatives"))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("graft_cosine"), p.take(2000))
  }

  test("c44 histogram: the 1-row min/max side is broadcast; binning is map-side before a 10-group aggregate") {
    val p = finalPlan(q("c44_histogram"))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial_min"), p.take(2000))
  }

  test("c47 band join plans as BroadcastRangeJoin, not the O(n·m) BNLJ") {
    val p = finalPlan(q("c47_band_join"))
    assert(p.contains("BroadcastRangeJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("e44 keywords: df and N broadcast; per-doc top-3 is a WindowGroupLimit heap") {
    val p = finalPlan(q("e44_keywords"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000)) // 1-row N
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("e39 dup spans: map-side partial agg on the span key, top-k heap at the end") {
    val p = finalPlan(q("e39_dup_spans"))
    // the rolling-window explode is per-row; the only wide op is the span
    // groupBy, which must partial-aggregate before its exchange, and the
    // final order+limit must be a bounded heap, not a global sort
    assert(p.contains("partial_count"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("e40 BM25: df/corpus stats broadcast, no corpus-wide join shuffle, top-k heap") {
    val p = finalPlan(q("e40_bm25"))
    // dft (3 rows) and the global stats (1 row) join as broadcasts; the
    // only exchanges are the tf/dl aggregates themselves
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000)) // 1-row stats
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("e41 bigram LM: one finished LM table broadcast onto the token stream") {
    val p = finalPlan(q("e41_bigram_lm"))
    // r17: c1 folds into the LM as a window sum over the vocab-sized c2
    // frame, so the instance stream sees exactly ONE broadcast join (the
    // old shape joined it twice — once per count table) and ln() runs per
    // distinct bigram inside the broadcast subtree, not per instance
    assert("BroadcastHashJoin".r.findAllIn(p).length === 1, p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("e47 fuzzy pairs: the quadratic stage joins the distinct-name aggregate, not rows") {
    val p = finalPlan(q("e47_fuzzy_pairs"))
    // both join inputs must be the (blk, name) groupBy output — the
    // Levenshtein DP runs on the value domain; a row-level self-join of
    // `part` would show a scan feeding the join without the aggregate
    assert(p.contains("levenshtein"), p.take(2000))
    assert("partial_count".r.findAllIn(p).nonEmpty, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("e46 char entropy: histogram kernel feeds the per-doc aggregate") {
    val p = finalPlan(q("e46_char_entropy"))
    // r16: the per-character explode (one row per CHARACTER through
    // Generate + a (doc_id, ch) count) was replaced by the
    // graft_char_counts kernel — one byte-walk per doc emitting
    // |alphabet| rows, with the per-doc DECIMAL sums partial-combining
    // map-side under the explode. Shuffle volume stays docs×alphabet.
    assert(p.contains("graft_char_counts"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000))
    assert(p.contains("partial_sum"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("b16 consistent cut: watermark sides broadcast, cut filter below the merge window") {
    val p = finalPlan(q("b16_consistent_cut"))
    // the per-table watermark aggregates are table-count-sized and join as
    // broadcasts; the pk merge shuffles once; no sort-merge anywhere
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000)) // 1-row cut
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("e48 semantic dedup: centroids broadcast; pairwise work is cluster-local") {
    val p = finalPlan(q("e48_semantic_dedup"))
    // assignment = crossJoin(broadcast(8 centroids)); the within-cluster
    // pair join keys on cid (hash join), never a corpus cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000)) // 8-row centroids
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("e106 semantic decontam: the eval side broadcasts — the train scan " +
    "never shuffles") {
    val p = finalPlan(q("e106_semantic_decontam"))
    // eval benches are small by nature: |eval| = corpus/97 rows broadcast
    // once; a SortMergeJoin or CartesianProduct here would shuffle the
    // whole train corpus per eval probe
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }
}
