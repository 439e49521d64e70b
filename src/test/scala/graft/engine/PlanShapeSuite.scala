package graft.engine

import graft.SparkSpec
import graft.SparkEntry

/** Physical-plan shape guards for the scale-critical operators: these
  * assert the plan Catalyst actually picks, so a regression that silently
  * de-scales an operator (single-partition window, nested-loop join,
  * lost broadcast) fails CI rather than surfacing at 100 TB. */
class PlanShapeSuite extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString

  test("q26 brute-force top-k: partial aggregation, no per-query window") {
    val p = plan("q26_sim_bruteforce")
    // bounded BoundedTopKAgg → partial ObjectHashAggregate before exchange
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), "found a window — single-task per query")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q27 LSH top-k: no per-query window either") {
    val p = plan("q27_sim_lsh")
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window"))
  }

  test("q52 IVF: broadcast equi-join on the cell id, bounded top-k, no window") {
    val p = plan("q52_sim_ivf")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window"))
    // cell scoring runs through the native kernel, evaluated ONCE per side
    // (corpus best-cell projection + query probe-list generate) — not an
    // nlist-subtree literal array inlined per reference
    val kernelRefs = "ivfprobecells".r.findAllIn(p.toLowerCase).size
    assert(kernelRefs >= 1 && kernelRefs <= 2, s"expected 1-2 kernel refs, got $kernelRefs:\n${p.take(3000)}")
  }

  test("q45 LSH near-dup: equi-join on bucket, NOT a nested loop") {
    val p = plan("q45_cosine_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bucket join degenerated to a nested loop")
    assert(!p.contains("CartesianProduct"))
  }

  test("q36 dimension join broadcasts the small side") {
    val p = plan("q36_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q07 grouped agg is partial+final hash aggregation") {
    val p = plan("q07_groupby_agg")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"), "agg fell back to sort-based")
  }

  test("q13 order+limit plans as TakeOrderedAndProject (bounded top)") {
    val p = plan("q13_order_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q09 first-seen group is a partial aggregate, not a window funnel") {
    val p = plan("q09_first_seen_group")
    // low-cardinality group keys (the reference's normal case) must not
    // funnel whole groups through one task
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), "found a window — single task per group value")
  }

  test("q18 topN buckets: bounded TopK aggregate, no per-bucket rank window") {
    val p = plan("q18_topn_buckets")
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), "found a window — unbounded per-bucket ranking")
  }

  test("q48 grouped topN buckets: no window either") {
    val p = plan("q48_topn_grouped")
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window"))
  }

  test("q42 version dedup is a max-struct aggregate, not a window sort") {
    val p = plan("q42_measure_version_dedup")
    // latest-version-wins must partial-aggregate (map-side combine folds
    // duplicate versions before the shuffle) — a Window here full-sorts
    // every row for a row_number filtered to 1
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert(!p.contains("Window"), "found a window in the version-dedup plan")
  }

  test("dedup barriers release executor storage once results are dropped") {
    import graft.operators.Dedup
    import graft.sources.Catalog
    val docs = Catalog.load(spark, sf0001, "documents")
    // baseline-relative: the shared test session legitimately carries
    // OTHER suites' still-reachable fixture caches — only the RDDs this
    // test creates must drain
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 2).foreach { _ =>
      Dedup.minhashLshPairs(docs, "doc_id", "text", w = 3,
        bands = 8, rowsPerBand = 2, threshold = 0.5).count()
    }
    // the localCheckpoint blocks are owned by the (now unreachable) result
    // frames; the ContextCleaner must reap them — persist() without
    // unpersist() would keep them forever
    def pinned: Int =
      (spark.sparkContext.getPersistentRDDs.keySet -- baseline).size
    val deadline = System.nanoTime() + 30L * 1000000000L
    var n = pinned
    while (n > 0 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      n = pinned
    }
    assert(n == 0, s"$n persistent RDDs still pinned after GC")
  }

  test("dedup broadcast gate fails closed when the postings cannot be measured") {
    // an un-barriered frame has no materialized leaf, so nothing reports
    // its bytes: the per-document table must not be hinted, or a
    // corpus-sized side is broadcast exactly where its size is unknown
    import graft.operators.Dedup
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, ResolvedHint}
    def gated(barriered: Boolean,
        maxBytes: Option[Long] => Long = _ => Dedup.BroadcastGateBytes) = {
      val range = spark.range(1000).toDF("id")
      val postings = if (barriered) Dedup.barrier(range) else range
      val bytes = org.apache.spark.sql.graftbridge.Bridge.materializedBytes(postings)
      val dim = spark.range(100).toDF("id")
      val joined = postings.join(
        Dedup.broadcastIfBounded(dim, postings, maxBytes(bytes)), "id")
      val out = (bytes,
        joined.queryExecution.analyzed.collect { case h: ResolvedHint => h },
        joined.queryExecution.optimizedPlan.collect { case j: Join => j.hint })
      postings.unpersist()
      out
    }
    val (bytes, hints, joinHints) = gated(barriered = false)
    assert(bytes.isEmpty, s"an un-barriered frame measured $bytes bytes")
    assert(hints.isEmpty, s"broadcast hint under an unmeasurable gate: $hints")
    assert(joinHints == Seq(JoinHint.NONE), joinHints.toString)
    // the control: a measured barrier keeps the hint
    val (measured, kept, _) = gated(barriered = true)
    assert(measured.exists(_ > 0) && kept.nonEmpty, s"$measured, $kept")
    // measured, but one byte over the gate: a plain join again
    val (over, overHints, overJoinHints) = gated(barriered = true, _.get - 1)
    assert(over.exists(_ > 0), s"$over")
    assert(overHints.isEmpty, s"broadcast hint above the gate: $overHints")
    assert(overJoinHints == Seq(JoinHint.NONE), overJoinHints.toString)
  }

  test("q53 curation: AQE converts the dedup-survivor join to a broadcast") {
    val df = SparkEntry.queries("q53_corpus_curation")(spark, sf0001)
    df.collect() // AQE finalizes the plan at execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "survivor join stayed a sort-merge join")
  }

  test("q01 time scan pushes the range to parquet and prunes columns") {
    val p = plan("q01_scan_timerange")
    assert(p.contains("PushedFilters: [IsNotNull(ts)") ||
      p.contains("GreaterThanOrEqual(ts"), p.take(2000))
    assert(!p.contains("props"), "unprojected column read from parquet")
  }

  test("q66 decontamination: benchmark shingles broadcast, corpus never shuffles text") {
    val p = plan("q66_decontamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "eval-set join degenerated to a corpus-side shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q67 merkle tree: hash-partitioned rollups, no joins at all") {
    val p = plan("q67_property_merkle")
    assert(!p.contains("Join"), "digest rollup grew a join")
    assert(!p.contains("CartesianProduct"))
    // per-level rollups are aggregates (slot fan-in bounded by shard size)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }

  test("q77 winnowing: native kernel, map-only up to the per-doc aggregate") {
    val p = plan("q77_winnow_fingerprint")
    // the single-pass kernel replaces the HOF md5/conv/slice chain
    assert(p.toLowerCase.contains("winnowfingerprints"), p.take(2000))
    assert(!p.contains("Join"), "fingerprinting grew a join")
    // one exchange only: the per-doc (count, xor) aggregate
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("q78 winnowing pairs: no cartesian/nested-loop; size join broadcasts") {
    val p = plan("q78_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "size lookup lost its broadcast")
  }

  test("q74 cross near-dup: df cap is a broadcast anti-join on hot shingles") {
    val p = plan("q74_cross_near_dup")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q79 multi-probe LSH: probe join stays a broadcast equi-join") {
    val p = plan("q79_sim_lsh_multiprobe")
    // the exploded probe set must join on the bucket key, never degrade
    // to a nested loop over the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"))
    assert(p.contains("ObjectHashAggregate"))
  }

  test("q84 perplexity tiers: corpus scoring never sorts globally; cuts broadcast") {
    val p = plan("q84_perplexity_tiers")
    // exactly one single-partition window — over the ppm-BOUNDED sample
    // (the rank that yields the two cut points); the corpus-wide scoring
    // and tier assignment must not sort
    assert("Window".r.findAllIn(p).size <= 2, p.take(3000)) // rn + count share a spec
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "threshold row lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q85 training shards: ONE hash exchange on the shard key, in-shard sort only") {
    val p = plan("q85_training_shards")
    // global sort would show as a range Exchange; shard assignment is a
    // single hashpartitioning exchange + sortWithinPartition
    assert(!p.contains("rangepartitioning"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q87 span dedup: hash-partitioned postings window, no cartesian, no global sort") {
    val p = plan("q87_span_dedup")
    // victims come from ONE row_number window partitioned by the
    // corpus-cardinality span hash — never a single-partition window
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"),
      "span-hash window degenerated to a single partition")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(!p.contains("rangepartitioning"),
      "span dedup must not globally sort the corpus")
  }

  test("q81 unigram scoring: a pure artifact scan — no join, no aggregate, no exchange") {
    val p = plan("q81_unigram_logprob")
    // the scored per-doc frame is materialized per corpus fingerprint
    // (ensureUnigramScored) — the query must be the parquet scan of that
    // artifact and NOTHING else; any join/aggregate/exchange means the
    // query started recomputing pipeline work
    assert(p.contains("FileScan parquet"), p.take(2000))
    assert(p.contains("unigramscored"), "q81 is not reading the scored artifact")
    assert(!p.contains("Join") && !p.contains("Aggregate") &&
      !p.contains("Exchange"), p.take(3000))
  }

  test("q100 funnel: one entity exchange, no per-step joins, no window") {
    val p = plan("q100_funnel")
    // the k-step recurrence folds in one sorted pass per entity — the
    // earlier form paid k−1 entity-keyed shuffle joins
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), "funnel grew a per-step join")
    assert(!p.contains("Window"), "funnel buffered entity history in a window")
  }

  test("q108 sequence packing: shard-partitioned window, never a single partition") {
    val p = plan("q108_pack_sequences")
    // the cumulative token sum runs per pack_shard — a corpus-wide
    // single-partition window here would serialize the whole packing job
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"),
      "packing window degenerated to a single partition")
    assert(!p.contains("rangepartitioning"), "packing must not globally sort")
  }

  test("q114 packed token shards: shard-partitioned window, kernel encode, no global sort") {
    val p = plan("q114_pack_token_ids")
    // per-shard cumulative offsets — a corpus-wide single-partition
    // window or a global sort here would serialize the packing job
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"),
      "packing window degenerated to a single partition")
    assert(!p.contains("rangepartitioning"), "packing must not globally sort")
    // token ids come from the compiled encode kernel, not a HOF chain
    assert(p.toLowerCase.contains("bpeencode"), p.take(2000))
  }

  test("q115/q116 media near-dup: banded equi-joins only, payload never in the pair plan") {
    for (q <- Seq("q115_media_near_dup", "q116_media_dedup_survivors")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a product join:\n${p.take(2000)}")
      // the signature barrier projects (id, kind, sig) — the payload
      // bytes must not travel through any pair/cluster exchange
      assert(!p.toLowerCase.contains("payload"),
        s"$q ships payload bytes past the signature stage")
    }
  }

  test("q84 tiers from the scored artifact: no score join, no token work anywhere") {
    val p = plan("q84_perplexity_tiers")
    // both the full pass and the ppm sample read the materialized scored
    // frame — a BroadcastHashJoin or a termcounts kernel call in this
    // plan means a score join crept back into the query
    assert(p.contains("unigramscored"), "q84 is not reading the scored artifact")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "tier assignment grew a score join")
    assert(!p.toLowerCase.contains("termcounts"),
      "q84 re-tokenized the corpus instead of reading the scored artifact")
  }

  test("q118 NB classify: artifact model broadcast, kernel pairs, one id-keyed exchange") {
    val p = plan("q118_nb_classify")
    // the trained model is vocabulary-bounded and READ from the
    // materialized artifact: the score join must broadcast it, the
    // (doc, token) side must never shuffle on the token, and no
    // token-keyed aggregate (a model refit) may appear in the query
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "model join shuffled the (doc, token) side")
    assert(!p.contains("keys=[tok"),
      "query refit the NB model instead of reading the artifact")
    assert(p.toLowerCase.contains("termcounts"),
      "per-doc term counts lost the native kernel")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q86 token-budget cut: two-pass prefix sum, no corpus-wide single partition") {
    val p = plan("q86_token_budget_cut")
    // the SinglePartition exchange feeds only the ≤64-row bucket totals;
    // the corpus-side running sum is a bucket-partitioned window
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("rangepartitioning"),
      "corpus-wide global sort — the bucketed prefix sum degenerated")
    assert(p.contains("BroadcastExchange"), "bucket offsets lost their broadcast")
  }

  test("q67 merkle tree: reads the leaf artifact, never the raw mutation log") {
    val p = plan("q67_property_merkle")
    assert(p.contains("propleaves"), "q67 is not reading the leaf artifact")
    assert(!p.contains("proplog"), "q67 regressed to scanning the raw log")
    assert(!p.contains("Window"), "latest-revision window reappeared")
  }

  test("q70 merkle diff: one full-outer join of two leaf artifacts, no log scan, no re-digest") {
    val p = plan("q70_property_merkle_diff")
    assert(p.contains("propleaves_a") && p.contains("propleaves_b"),
      "diff must read both stores' leaf artifacts")
    assert(!p.contains("proplog"), "diff regressed to scanning a raw log")
    assert("FullOuter".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.toLowerCase.contains("md5"),
      "digests recomputed in-plan — leaf_sha is an artifact column")
    assert(!p.contains("Window") && !p.contains("Aggregate"), p.take(3000))
  }

  test("q71 repair plan: the winner rule rides the diff join — no extra rev lookups") {
    val p = plan("q71_property_repair_plan")
    assert(p.contains("propleaves_a2") && p.contains("propleaves_b"))
    assert(!p.contains("proplog"), "plan regressed to scanning a raw log")
    // exactly one join: the artifact carries each side's latest rev
    assert("FullOuter".r.findAllIn(p).size == 1, p.take(3000))
    assert("Join".r.findAllIn(p).size <= 2, // SMJ prints "SortMergeJoin ... FullOuter"
      s"repair plan grew extra joins:\n${p.take(3000)}")
    assert(!p.contains("Window") && !p.contains("Aggregate"), p.take(3000))
  }
}
