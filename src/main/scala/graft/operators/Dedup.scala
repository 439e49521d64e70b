package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines (north-star
 * extension). Scale design notes per operator:
 *
 * - exact/fingerprint: one hash-partitioned groupBy — the minimum possible
 *   work; AQE handles skew from pathological duplicate clusters.
 * - MinHash/LSH: per-doc signatures are map-only and materialized ONCE
 *   behind a barrier (Catalyst's CollapseProject would otherwise
 *   inline the tokenizer into every signature lane of every join side).
 *   The band-bucket self-join carries ids only; singleton buckets are
 *   pruned before the join; candidate pairs re-join the (persisted)
 *   shingle sets to emit EXACT Jaccard — verifiable against an oracle.
 * - SimHash: map-only signature + 4×15-bit block join (Hamming ≤ 3 ⇒ at
 *   least one of 4 blocks equal, by pigeonhole — recall is exactly 1).
 *   Token hashes are the first 60 bits of md5 so the whole computation is
 *   reproducible in any engine (the oracle recomputes it in SQL).
 *
 * MinHash lane hashing uses xxhash64 with fixed literal seeds —
 * deterministic across runs, executors, and Spark versions.
 */
object Dedup {

  /**
   * SIZE-DERIVED partition count for a heavy shuffle fed by a barriered
   * frame: the MEASURED block-manager bytes of the materialized input
   * divided by a per-partition budget, clamped to [session shuffle
   * partitions, 4096]. This is the scale discipline
   * `spark.sql.files.maxPartitionBytes` applies to scans, extended to
   * the posting-join / banding exchanges whose inputs are lineage-cut
   * barriers (their logical-plan stats are defaults, so AQE's initial
   * partition count — the session shuffle setting — is all a fixed
   * config would give them; a session-wide initialPartitionNum bump was
   * measured 15-20% SLOWER on the toy-scale surface and rejected).
   * Returns the session count unchanged for small inputs, so toy-scale
   * plans keep their exact shape.
   */
  private[graft] def scaledPartitions(measured: DataFrame,
      bytesPerPartition: Long = 8L << 20): Int = {
    val spark = measured.sparkSession
    val base = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    org.apache.spark.sql.graftbridge.Bridge.materializedBytes(measured) match {
      case Some(b) => math.max(base.toLong, math.min(4096L, b / bytesPerPartition)).toInt
      case None => base
    }
  }

  /** Measured-postings ceiling of [[broadcastIfBounded]]: 1 GiB of
    * postings, which bound a ~10 MB size table (postings carry ~100× more
    * bytes than the table). */
  private[graft] val BroadcastGateBytes: Long = 1L << 30

  /** Broadcast a per-document dimension frame (e.g. the (id, set_size)
    * table of an inverted-index join) ONLY while the corpus is provably
    * small enough, measured — like [[scaledPartitions]] — from the
    * barriered posting frame's block-manager bytes. A per-doc table is
    * CORPUS-sized: at 100 TB it is billions of rows, far past Spark's
    * 8 GB / 512M-row broadcast-relation cap, so a hard `broadcast()` hint
    * here is a scale-killer that no ≤sf25 sweep can surface (the r16
    * optimization-round review caught it; guide §3.1). The gate keeps the
    * broadcast (and the exact bench-scale plan shape) while the measured
    * postings stay at or under `maxBytes` ([[BroadcastGateBytes]]), and
    * falls back to a plain equi-join (AQE picks the strategy from runtime
    * sizes) beyond it. */
  private[graft] def broadcastIfBounded(dim: DataFrame, measuredPostings: DataFrame,
      maxBytes: Long = BroadcastGateBytes): DataFrame = {
    org.apache.spark.sql.graftbridge.Bridge.materializedBytes(measuredPostings) match {
      case Some(b) if b <= maxBytes => broadcast(dim)
      // FAIL CLOSED when the size cannot be measured (a frame with no
      // materialized leaf): an unbounded
      // broadcast in exactly the configs where bytes are unknowable is
      // the scale-killer this gate exists to prevent — return the frame
      // un-hinted and let AQE pick the strategy from runtime sizes
      // (r16 ADVICE).
      case _ => dim
    }
  }

  /** Materialization barrier for intermediates reused across join sides:
    * an eager `localCheckpoint`, whose blocks live only as long as the
    * returned frame is REACHABLE — the ContextCleaner unpersists them once
    * the result is dropped, so repeated dedup calls in a long-lived
    * session don't accrete executor storage the way never-unpersisted
    * `persist()` pins do (r3 verdict). TRADE-OFF: it truncates lineage
    * onto non-replicated blocks, so on a real cluster the loss of one
    * executor mid-query fails the job instead of recomputing — acceptable
    * under local[*] and for restartable batch jobs, not for long
    * multi-hour pipelines. */
  private[graft] def barrier(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Exact dedup: group on md5 of the raw text. Returns one row per
    * distinct content hash with the surviving (min) id and the group size. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Word w-shingles of a document, lowercased alnum tokens (distinct
    * set, first-seen order); empty array below w tokens. Native codegen'd
    * kernel — see [[graft.functions.SketchImpl.shingles]]. */
  def shingles(text: Column, w: Int): Column =
    graft.functions.SketchFunctions.shingles(text, w)

  /**
   * MinHash signature: k independent min-hashes over the shingle set.
   * h_i(s) = xxhash64(i, s); signature[i] = min over shingles. Native
   * kernel ([[graft.functions.SketchImpl.minhashSig]]) — one fused
   * lane×shingle loop instead of k interpreted array passes.
   */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.SketchFunctions.minhashSig(shingleCol, k)

  /** Exact Jaccard of two pre-computed shingle-set columns. */
  private def exactJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Per-band LSH bucket hashes over a signature array: band b's bucket =
    * `xxhash64(b, sig[b·r+1], …, sig[b·r+r])` — a plan-time-unrolled
    * array of codegen'd multi-arg hashes over the raw longs. Equal band
    * slices collide under ANY deterministic function, so candidate recall
    * is identical to the previous form (`xxhash64(b, concat_ws(",",
    * slice(sig,…).cast("array<string>")))`), which ran INTERPRETED
    * (transform HOF) and allocated a string array + joined string per
    * band per doc; accidental (unequal-slice) collisions differ between
    * the two functions at the shared 2⁻⁶⁴ rate and are removed by the
    * exact verification both paths end with (r16 optimization round). */
  private def bandHashArray(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val lanes = (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1))
      xxhash64((lit(b) +: lanes): _*)
    }: _*)

  /**
   * MinHash + LSH near-dup pairs: signature split into `bands` bands of
   * `rowsPerBand` rows; docs sharing any band-hash become candidates;
   * candidates are then verified with EXACT Jaccard over the shingle sets
   * (so the output is oracle-checkable: with the default 32×2 layout the
   * probability of missing a pair at jaccard ≥ 0.5 is (1−0.5²)³² ≈ 1e-4).
   * Returns (id_a, id_b, jaccard) with id_a < id_b.
   *
   * Scale shape: signatures and shingle sets are computed once per doc
   * (a barrier), the self-join shuffles only (band, bucket, id)
   * triples, and buckets with a single member never reach the join.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, bands: Int = 32, rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val k = bands * rowsPerBand
    // ONE barrier materializes HASHED shingle sets AND signatures: the
    // fused ShingleHashesExpr kernel tokenizes once and emits the 60-bit
    // md5 prefix per distinct shingle (the barrier payload per shingle is
    // 8 bytes, not the w-token string), and the signature kernel mixes
    // each pre-hashed shingle per lane with one xxhash64-long instead of
    // re-hashing the string k times. Downstream uses shingles only for
    // EQUALITY (banding, exact-Jaccard verification), so the hashed form
    // is exact up to the 2^-61-per-vocab-pair collision contract shared
    // by every lane here; lane semantics are a different random family
    // than the string form — free, since MinHash output is verified by
    // exact Jaccard, never by lane value. The band-slicing below cannot
    // inline the signature into its per-band lambda (which would
    // recompute all k lanes once per band) — hence the materialization.
    val mat = barrier(df
      .select(col(idCol).as("id"),
        graft.functions.SketchFunctions.shingleHashes(col(textCol), w).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig",
        graft.functions.SketchFunctions.minhashSigLongs(col("sh"), k)))
    val sh = mat.select("id", "sh")
    val sigs = mat.select(col("id"), size(col("sh")).as("sz"), col("sig"))
    // Band buckets carry (id, shingle-set size) ONLY — no signature
    // payload through the shuffle. The 8-byte size rides along to feed
    // the size-ratio gate below.
    val buckets = sigs.select(col("id"), col("sz"),
        posexplode(bandHashArray(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // Drop singleton buckets before the self-join.
    val hot = buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select("band", "bucket")
    val pruned = buckets.join(hot, Seq("band", "bucket"))
    val cand = pruned
      .select(col("band"), col("bucket"), col("id").as("id_a"), col("sz").as("__sz_a"))
      .join(pruned.select(col("band"), col("bucket"), col("id").as("id_b"),
        col("sz").as("__sz_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // EXACT size-ratio gate (no recall loss): J(A,B) ≤ min(|A|,|B|) /
      // max(|A|,|B|), so J ≥ t already requires min ≥ t·max — a banding
      // collision between documents whose shingle counts differ by more
      // than 1/t never survives verification, so it never reaches the
      // pair-dedup shuffle or the (expensive) shingle-array verify join.
      .filter(least(col("__sz_a"), col("__sz_b")).cast("double") >=
        lit(threshold) * greatest(col("__sz_a"), col("__sz_b")))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // Verify candidates with exact Jaccard over the persisted shingle sets.
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("__sh_b")), Seq("id_b"))
      .withColumn("__j", exactJaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard"))
  }

  /** 60-bit SimHash over the token multiset: per bit position, strict
    * majority vote of token hashes (term-frequency weighted). Token hash =
    * first 60 bits of md5 (engine-portable, unlike xxhash64), so an
    * external oracle can recompute the identical signature. Native
    * codegen'd kernel — [[graft.functions.SketchImpl.simhash60]]. */
  def simhash60(text: Column): Column =
    graft.functions.SketchFunctions.simhash60(text)

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist (< 15), via
    * 4-block LSH: equal 15-bit block ⇒ candidate (pigeonhole: ≤ 3 flipped
    * bits leave at least one of 4 blocks intact), then exact popcount.
    * Signatures are persisted so the (large) signature expression runs
    * once per doc, not once per join side.
    *
    * COLLAPSED-FIRST (r17, the media-path discipline from r13): identical
    * signatures form cliques up front, banding + popcount verification
    * run over DISTINCT signatures only, and member pairs re-expand at the
    * end by sig-key equi-joins. A dup storm (many byte-near-identical
    * documents — exactly what exact-dedup feeds this operator at scale)
    * previously pushed every member through every block table and a
    * block-duplicated quadratic candidate self-join with a popcount
    * sig-fetch join per candidate; collapsed, a clique of g members
    * costs g block rows and its member pairs are produced once by the
    * re-expansion joins — the floor for an operator whose contract is
    * the pairs themselves. Pair set provably identical: equal-sig pairs
    * are the clique arm (hamming 0); different-sig member pairs
    * correspond 1:1 to their (sig_a, sig_b) rep pair, whose block
    * collision and popcount are functions of the signatures alone.
    * Measured (same box-hour stash A/B, min-of-3): sf1 3.72 → 2.51 s
    * (−33%), 50×-documents replica 9.40 → 7.96 s (−15% — the output
    * pair volume itself is the floor there); the popcount now runs per
    * distinct SIG pair instead of per candidate member pair, and the
    * block tables carry distinct sigs, so a dup storm can no longer
    * blow up the candidate self-join. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sigs = barrier(df.select(col(idCol).as("id"), simhash60(col(textCol)).as("sig")))
    val distinctSigs = sigs.select("sig").distinct()
    val blocks = distinctSigs.select(col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND(0x7FFFL)): _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "bkey")
    val hot = blocks.groupBy("block", "bkey")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select("block", "bkey")
    val pruned = blocks.join(hot, Seq("block", "bkey"))
    val repPairs = pruned.select(col("block"), col("bkey"), col("sig").as("__sa"))
      .join(pruned.select(col("block"), col("bkey"), col("sig").as("__sb")),
        Seq("block", "bkey"))
      .filter(col("__sa") < col("__sb"))
      .select("__sa", "__sb").dropDuplicates("__sa", "__sb")
      .withColumn("hamming",
        call_function("bit_count", col("__sa").bitwiseXOR(col("__sb"))))
      .filter(col("hamming") <= maxDist)
    // cross-clique members: orientation by least/greatest is collision-free
    // because the two sig groups are disjoint
    val cross = repPairs
      .join(sigs.select(col("sig").as("__sa"), col("id").as("__ia")), Seq("__sa"))
      .join(sigs.select(col("sig").as("__sb"), col("id").as("__ib")), Seq("__sb"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    val clique = sigs
      .join(sigs.select(col("sig"), col("id").as("id_b")), Seq("sig"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"),
        lit(0).cast("integer").as("hamming"))
    cross.unionByName(clique).select("id_a", "id_b", "hamming")
  }

  /**
   * Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
   * explode shingles, self-join on shingle (blocking), count shared
   * shingles per pair, then |A∩B| / (|A|+|B|−|A∩B|). Avoids the O(n²)
   * cross join — cost is Σ (docs per shingle)², bounded by dropping
   * ubiquitous shingles (df > maxDocFreq). The exploded postings are
   * persisted so the tokenizer runs once, not once per downstream use.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, threshold: Double = 0.5, maxDocFreq: Int = 1000): DataFrame = {
    // postings carry the 60-bit md5 prefix of the shingle, not its text:
    // every downstream stage (df groupBy, keep join, self-join) shuffles
    // an int64 instead of a ~w·6-byte string — the key only ever feeds
    // equality, so results are identical up to a 2^-61-per-vocab-pair
    // collision (the same negligible contract as the minhash lanes).
    // The fused shingleHashes kernel emits the hashes directly, so the
    // shingle STRINGS are never materialized as exploded rows.
    val sh = barrier(df.select(col(idCol).as("id"),
      explode(graft.functions.SketchFunctions.shingleHashes(col(textCol), w))
        .as("shingle")))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    val filtered = barrier(sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df_"))
        .filter(col("df_") <= maxDocFreq && col("df_") >= 2).select("shingle"),
      Seq("shingle")))
    val pairs = filtered.select(col("shingle"), col("id").as("id_a"))
      .join(filtered.select(col("shingle"), col("id").as("id_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcastIfBounded(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("set_size", "size_a"), sh), Seq("id_a"))
      .join(broadcastIfBounded(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("set_size", "size_b"), sh), Seq("id_b"))
      .withColumn("jaccard_raw", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      // threshold on the raw value, round only for output
      .filter(col("jaccard_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_raw"), 6).as("jaccard"))
  }

  /**
   * Winnowing near-dup pairs: document pairs whose winnowing-fingerprint
   * sets ([[graft.operators.TextAnalysis.winnowFingerprints]]) have
   * Jaccard similarity ≥ `threshold` (and ≥ `minShared` shared
   * fingerprints as a small-doc noise floor). Same inverted-index shape
   * as [[ngramJaccardPairs]] — explode, df-cap, self-join on the posting
   * key, count, normalize by set sizes — but the postings are the
   * winnowed SELECTION of gram hashes, a `2/(w+1)` fraction of the full
   * gram index at the same substring-match guarantee (any shared
   * canonical run of `w + k - 1` chars still collides), and the posting
   * key is an int64, not gram text.
   *
   * The SIZE-NORMALIZED threshold is what makes the contract hold at
   * scale: chance char-gram collisions produce candidate pairs
   * quadratically in corpus size, so any absolute shared-count cutoff
   * admits garbage pairs that grow ~n² (measured: 12.3M pairs with
   * `n_shared >= 3` on a 50× corpus where Jaccard ≥ 0.25 keeps 2.6k —
   * the true near-dups, growing linearly). `maxDocFreq` defaults LOWER
   * than the token-shingle paths (128, not 1000): winnowed char-gram
   * fingerprints of shared boilerplate are far hotter than 5-token
   * shingles, join work is Σ df² per posting (203M candidate rows at
   * cap 1000 on the 50× corpus vs 60M at 128), and sizes are computed
   * before the cap exactly like [[ngramJaccardPairs]], so dropped hot
   * fingerprints only shrink the estimate, never invent a pair.
   *
   * All-Pairs/PPJoin prefix filtering was measured and rejected: at this
   * operator's t = 0.25 it was net slower at sf25 (BASELINE.md, "q78
   * prefix-filter investigation").
   */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, threshold: Double = 0.25, minShared: Int = 3,
      maxDocFreq: Int = 128): DataFrame = {
    val fps = barrier(
      TextAnalysis.winnowFingerprints(df, idCol, textCol, k, w)
        .select(col(idCol).as("id"), col("fingerprint").as("fp")))
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("set_size"))
    // SIZE-DERIVED sizing for the exchanges that grow superlinearly in
    // the posting list: at the session's fixed shuffle count a 250×
    // corpus put >1 GB of sorter state per task and OOM'd an 8 g heap
    // (sf25, 32 tasks), where per-byte sizing completes untouched-config.
    // n == base leaves toy-scale plans EXACTLY as before.
    val n = scaledPartitions(fps)
    val base = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    def scaled(d: DataFrame, keys: Column*): DataFrame =
      if (n > base) d.repartition(n, keys: _*) else d
    // LAZY, not barriered: a localCheckpoint of the full posting list
    // held deserialized blocks that OOM'd the 8 g heap at sf5 before any
    // join work started
    val capped = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df_"))
        .filter(col("df_") <= maxDocFreq && col("df_") >= 2),
      Seq("fp"))
    val filtered = scaled(capped.select("fp", "id"), col("fp"))
    val joined = filtered.select(col("fp"), col("id").as("id_a"))
      .join(filtered.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
    // size-table joins go through the measured broadcast gate (per-doc
    // tables are corpus-sized — see broadcastIfBounded); the fps barrier
    // is the measured source
    scaled(joined, col("id_a"), col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcastIfBounded(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("set_size", "size_a"), fps), Seq("id_a"))
      .join(broadcastIfBounded(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("set_size", "size_b"), fps), Seq("id_b"))
      .withColumn("__sim", col("n_shared").cast("double") /
        (col("size_a") + col("size_b") - col("n_shared")))
      .filter(col("__sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("__sim"), 6).as("winnow_sim"))
  }

  /**
   * Benchmark decontamination: flag corpus documents sharing ≥ `minShared`
   * distinct `w`-token shingles with an evaluation/benchmark set — the
   * standard pre-training step that keeps test questions out of the
   * training corpus (train-test overlap detection à la the GPT-3/C4
   * n-gram decontamination procedure).
   *
   * Scale shape: benchmark sets are SMALL (thousands of documents) while
   * the corpus is the 100 TB side — so the benchmark's distinct shingle
   * set broadcasts and the corpus is ONE map-side hash join + one
   * partial-aggregated count, no corpus-side shuffle of text. Shingles
   * per document are already distinct ([[shingles]]), so the join-row
   * count per doc IS the distinct-overlap count.
   */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, w: Int = 5,
      minShared: Int = 1): DataFrame = {
    // join keys are the 60-bit shingle hashes (equality-only use, same
    // contract as ngramJaccardPairs), emitted by the fused kernel — the
    // broadcast benchmark set ships 8-byte longs and neither side ever
    // materializes w-token strings as exploded rows
    val docSh = docs.select(col(idCol).as("id"),
      explode(graft.functions.SketchFunctions.shingleHashes(col(textCol), w))
        .as("shingle"))
    val benchSh = bench
      .select(explode(graft.functions.SketchFunctions.shingleHashes(col(benchTextCol), w))
        .as("shingle")).distinct()
    docSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Per-document contamination FRACTION — the graded companion of
   * [[contaminationFlags]]' binary cut: what share of a document's
   * distinct shingles appear in the benchmark set. This is how a
   * pipeline CALIBRATES its decontamination threshold (the flag op then
   * enforces it): the ppm distribution over a corpus shows where true
   * leakage separates from boilerplate collisions.
   *
   * Scale shape: identical to the flag op — benchmark shingles broadcast
   * as 8-byte hashes, the corpus side is one map-side LEFT join marking
   * hits plus one partial-aggregated count per document; corpus text
   * never shuffles. `contam_ppm` is an exact integer
   * (`n_shared·1e6 div n_shingles`). Documents below `w` tokens carry no
   * shingles and are absent, like every tokenized path.
   *
   * @return (id, n_shingles, n_shared, contam_ppm)
   */
  def contaminationFraction(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, w: Int = 5): DataFrame = {
    val docSh = docs.select(col(idCol).as("id"),
      explode(graft.functions.SketchFunctions.shingleHashes(col(textCol), w))
        .as("shingle"))
    val benchSh = bench
      .select(explode(graft.functions.SketchFunctions.shingleHashes(col(benchTextCol), w))
        .as("shingle")).distinct()
      .withColumn("__hit", lit(1L))
    docSh.join(broadcast(benchSh), Seq("shingle"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("contam_ppm",
        expr("n_shared * 1000000 div n_shingles"))
  }

  /**
   * Transitive near-dup clusters from a pair list: connected components
   * over the pair graph, each labeled by its minimum member id (the
   * canonical keeper a dedup pass retains). The step between pair
   * generation (minhash/simhash/ngram) and actually dropping rows —
   * near-duplication is transitive in effect (A≈B≈C must collapse to ONE
   * survivor) even though the similarity relation itself is not.
   *
   * Algorithm (distributed path): alternating LARGE-STAR / SMALL-STAR
   * edge rewiring (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii:
   * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
   * rewires every node's neighborhood toward the neighborhood minimum —
   * large-star hooks strictly-larger neighbors to min(Γ⁺(v)), small-star
   * hooks the rest — so distant nodes become DIRECT neighbors of their
   * component's minimum and the edge set contracts to a star forest in
   * O(log² n) rounds worst-case (measured: 7 rounds on the 5.8M-edge
   * sf5 media graph). The loop THROWS if `maxIters` rounds were not
   * enough — silently returning half-merged components would keep
   * duplicate documents downstream.
   *
   * WHY rewiring and not label propagation: the previous implementation
   * (min-label propagation + one pointer-halving step per round) is
   * O(diameter), not the O(log diameter) its comment claimed — on
   * blob-chain graphs (dense near-dup families strung into chains) the
   * label pointers inside each blob point at the blob's LOCAL minimum,
   * not along the chain, so halving had nothing to jump through and the
   * global minimum flooded one edge-hop per round. Measured on the sf5
   * media graph (150k nodes, BFS depth 24): 21 rounds; at sf25 the same
   * family NEVER converged in 25 rounds. A 100 TB corpus with
   * boilerplate chains of depth 10⁴⁺ would need 10⁴⁺ shuffled rounds
   * under propagation — the star rounds stay logarithmic. Both the old
   * and new rules were validated label-identical to BFS ground truth on
   * the sf5 graph before the swap (BASELINE.md round-15 notes).
   *
   * SMALL-GRAPH FAST PATH: a near-dup pair list is usually dimension-table
   * sized even when the corpus is not (pairs ∝ actual duplication, not
   * corpus rows) — and the iterative path's cost there is pure per-round
   * fixed overhead (a barrier job + two shuffles per round over a few
   * thousand edges; measured 8-59 s at sf0.1 where the data itself is
   * milliseconds of work, with the 20+ rapid driver round-trips degrading
   * NEIGHBORING queries in the same session via cleaner/GC churn). Edge
   * lists at or below `spark.graft.dedup.clusters.driverMaxEdges`
   * (default 2^20) collect to the driver — the same dimension-table-sized
   * plan-time collect the IVF centroid resolution performs — and run
   * union-find with path compression directly; larger graphs take the
   * distributed rounds. Both paths produce identical labels (tested).
   * Measured crossover (5.8M-edge sf5 media graph, BASELINE.md):
   * driver ~5 s vs distributed 22-26 s — on a deployment whose driver
   * heap can afford the ~50 bytes/edge transient collect, raising the
   * conf well past 2^20 buys that gap; the distributed rounds exist for
   * the pair lists that genuinely cannot land on one machine.
   */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    // clamped to Int.MaxValue-1 at READ time: limit() caps the probe at
    // Int.MaxValue rows, so a gate at or above that could never observe
    // an exceeding count — the probe would pass for ARBITRARILY large
    // edge lists and the driver collect would be unbounded. Clamping the
    // effective gate keeps its semantics exact over the supported range
    // (a conf that large means "driver always" anyway — same intent,
    // now with the probe still able to say no).
    val driverMax = math.min(spark.conf
      .get("spark.graft.dedup.clusters.driverMaxEdges", (1 << 20).toString).toLong,
      (Int.MaxValue - 1).toLong)
    // materialize the pair list ONCE — the size probe, the driver collect,
    // and every distributed round read these blocks instead of re-running
    // the (expensive) pair-generation plan
    val mat = barrier(pairs.select(col("id_a"), col("id_b")))
    // clamped probe: limit() takes an Int, so confs above Int.MaxValue-1
    // probe at Int.MaxValue rows (already far beyond any sane collect) —
    // without the clamp, driverMaxEdges in (2^31-1, 2^32) produced a
    // NEGATIVE limit (AnalysisException) and values >= 2^32 truncated,
    // silently disabling the gate
    val probeRows = math.min(driverMax + 1, Int.MaxValue.toLong).toInt
    if (driverMax > 0 && mat.limit(probeRows).count() <= driverMax)
      return dedupClustersDriver(mat)

    // canonical undirected edge form: (a < b), no self-loops, distinct
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // both orientations + per-node neighborhood minimum m = min(Γ⁺(u))
    def withMins(e: DataFrame): DataFrame = {
      val n = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val m = n.groupBy("u").agg(min(col("v")).as("__minv"))
        .select(col("u"), least(col("u"), col("__minv")).as("m"))
      n.join(m, Seq("u"))
    }
    // large-star: hook strictly-larger neighbors to the minimum
    def largeStar(e: DataFrame): DataFrame =
      canon(withMins(e).filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
    // small-star: hook v itself and its ≤ neighbors to the minimum
    def smallStar(e: DataFrame): DataFrame = {
      val nm = withMins(e)
      canon(nm.filter(col("v") <= col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(nm.select(col("u").as("a"), col("m").as("b"))))
    }

    // Round hygiene: every round materializes through Bridge
    // .materializeOwned — the ONE primitive that both CUTS the lineage
    // (a bare persist() keeps it: round k's logical plan embeds round
    // k−1's tree ~4×, so driver-side analysis compounds geometrically —
    // measured as minutes-per-round stalls and an eventual OOM even on
    // 25-edge property-test graphs) and frees the previous round's
    // multi-million-edge blocks deterministically the moment the next
    // round lands (a barrier() per round leaks them to the
    // ContextCleaner for the whole query, which tipped the full-surface
    // sf5 bench over an 8g heap).
    import org.apache.spark.sql.graftbridge.Bridge.materializeOwned
    val noop: () => Unit = () => ()
    // degenerate self-pair inputs contribute isolated nodes the canon form
    // drops — both the adaptive-collapse driver calls and the final label
    // step re-add them (id_a = id_b rows union in unchanged)
    def selfPairs: DataFrame = mat.filter(col("id_a") === col("id_b"))
      .select(col("id_a"), col("id_a").as("id_b"))
    // round-0 basis stays LAZY and SHUFFLE-FREE: only self-loops are
    // dropped, NOT duplicates — withMins' neighborhood minimum is
    // unaffected by duplicate edges and round 1's output canon dedups, so
    // the up-front canon-distinct (a full 5.8M-row shuffle + owned cache
    // write + count job, ~2.5 s of the sf5 hybrid wall) buys nothing.
    // largeStar references this frame ~4×, but each reference is a
    // map-only scan of the barriered pair list's cached blocks. (A lazy
    // DISTINCT basis was measured WORSE than materializing it: 12-17 s —
    // ReusedExchange dedups the exchange, but every consumer re-runs the
    // post-shuffle aggregate.)
    var e = mat.select(col("id_a").as("a"), col("id_b").as("b"))
      .filter(col("id_a") =!= col("id_b"))
    var freeE: () => Unit = noop
    var freeHalf: () => Unit = noop
    var eCount = -1L // unknown until the first materialized round
    var iter = 0
    var converged = false
    // the try/finally frees the owned frames on EVERY exit path —
    // convergence, the adaptive collapse below, the non-convergence throw,
    // and any job failure mid-round. Owned blocks are strongly held by the
    // CacheManager (that is the point of "owned" vs ContextCleaner-scoped
    // barriers), so an abandoned round would otherwise pin its
    // multi-million-edge blocks for the application's lifetime.
    try {
      while (iter < maxIters && !converged) {
        // materialize the large-star output too: smallStar's tree references
        // its input ~4× (two orientation unions + the min join), and each
        // reference re-runs largeStar's canon-distinct SHUFFLE when left
        // unmaterialized — measured ~2× per-round wall on the 5.8M-edge sf5
        // media graph. NOTE the storage high-water mark: e, half, and next
        // are all live while next materializes (3× one edge list, vs 2× for
        // an unmaterialized half) — MEMORY_AND_DISK spills rather than
        // OOMs, and the ~2× wall win pays for the transient third copy.
        val (half, fh) = materializeOwned(largeStar(e))
        freeHalf = fh
        // ADAPTIVE MID-RUN COLLAPSE: star rounds contract the edge list
        // geometrically toward the star forest (one edge per non-minimum
        // member), so a graph too big to collect at the start usually fits
        // the driver gate after a half-round or two — finish with
        // union-find there instead of paying the remaining ~log n rounds
        // of 4-shuffle fixed cost. Label parity holds because BOTH star
        // operations preserve components exactly (Kiveris SoCC'14 Thm 1-2)
        // and never drop a node: every node with an edge survives
        // largeStar (as `v` via a smaller neighbor, or as the hook target
        // m(u)) and smallStar (the (u, m(u)) branch covers non-minima;
        // minima survive as the hook target) — so the component minima,
        // and hence the labels, are unchanged. The FIRST large-star is the
        // common collapse point on near-dup graphs (dense blob members
        // hook straight to the blob minimum: 5.8M edges → under the 2^20
        // gate in one half-round on the sf5 media graph), so the gate is
        // probed on `half` too; the count is a cached scan. Collapse also
        // skips the exceptAll convergence join — union-find is trivially
        // correct on an already-converged star forest.
        // driverMaxEdges=0 disables the collapse together with the
        // up-front driver path, keeping a pure-distributed arm for tests
        // and measurement.
        if (driverMax > 0 && half.count() <= driverMax)
          return dedupClustersDriver(
            half.select(col("a").as("id_a"), col("b").as("id_b"))
              .unionByName(selfPairs))
        val (next, freeNext) = materializeOwned(smallStar(half))
        freeHalf(); freeHalf = noop
        val nextCount = next.count()
        val prevE = e
        val freePrev = freeE
        e = next
        freeE = freeNext
        if (driverMax > 0 && nextCount <= driverMax) {
          freePrev()
          return dedupClustersDriver(
            e.select(col("a").as("id_a"), col("b").as("id_b"))
              .unionByName(selfPairs))
        }
        // set equality on canonical distinct edge lists: equal counts plus
        // one-sided emptiness of the difference. Round 1 has no
        // materialized predecessor count (the lazy round-0 basis) — skip
        // the check there; star rounds are idempotent on a star forest, so
        // an already-converged input merely pays one extra round before
        // round 2 detects the fixpoint.
        converged = eCount >= 0 && nextCount == eCount && next.exceptAll(prevE).isEmpty
        freePrev()
        eCount = nextCount
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIters alternating-star " +
          "rounds — worst-case is O(log² n); raise maxIters")
      // stable state is a star forest: every edge is (component-min, member)
      val labels = e.select(col("b").as("id"), col("a").as("cluster_id"))
        .unionByName(e.select(col("a").as("id"), col("a").as("cluster_id")))
        // degenerate self-pair inputs contribute isolated nodes the canon
        // form dropped — keep them labeled with themselves (driver-path parity)
        .unionByName(mat.filter(col("id_a") === col("id_b"))
          .select(col("id_a").as("id"), col("id_a").as("cluster_id")))
        .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
      // the final star forest's blocks are OWNED — re-materialize the labels
      // onto barrier()-managed storage before freeing them, so reads of the
      // returned frame never fall back to re-running the whole round chain
      // through RDD lineage
      barrier(labels)
    } finally {
      freeHalf()
      freeE()
    }
  }

  /** Driver-side union-find for dimension-table-sized pair lists: one
    * collect, path-compressed find, min-member labels, one parallelize
    * back out. Exact same (id, cluster_id) contract as the distributed
    * rounds; preserves the id column's type. */
  private def dedupClustersDriver(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val es = pairs.select(col("id_a"), col("id_b")).collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    // min member id per component — string order is unsigned UTF-8 byte
    // order, matching Catalyst's binary min() on the distributed path
    val ord: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => Integer.compare(x, y)
        case (x: Short, y: Short) => java.lang.Short.compare(x, y)
        case (x: Byte, y: Byte) => java.lang.Byte.compare(x, y)
        case (x: Double, y: Double) => java.lang.Double.compare(x, y)
        case (x: Float, y: Float) => java.lang.Float.compare(x, y)
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
        case (x: String, y: String) =>
          val (xb, yb) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
          var i = 0
          while (i < xb.length && i < yb.length) {
            val d = (xb(i) & 0xff) - (yb(i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          xb.length - yb.length
        case _ => throw new IllegalArgumentException(
          s"dedupClusters: unsupported id type $idType for the driver path")
      }
    }
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { id =>
      val r = find(id)
      val cur = minOf.get(r)
      if (cur.isEmpty || ord.lt(id, cur.get)) minOf(r) = id
    }
    val rows = parent.keys.toSeq.map(id =>
      org.apache.spark.sql.Row(id, minOf(find(id))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /**
   * Near-dup REMOVAL policy: collapse each transitive cluster
   * ([[dedupClusters]]) to ONE surviving document — the one with the
   * greatest `prefCol` (ties break to the LOWEST id), the usual
   * "keep the longest / highest-quality representative" rule — and pass
   * unclustered documents through unchanged. This is the step that turns
   * a pair list into the actual deduplicated corpus.
   *
   * Scale shape: the cluster-label frame is pair-bounded (∝ duplication,
   * not corpus size), so the label join broadcasts under AQE; survivor
   * selection is ONE partial-aggregated `max_by` groupBy on cluster_id —
   * no window over the corpus, no second scan. Requires a numeric id (the
   * tiebreak negates it inside the `max_by` ordering struct).
   *
   * @return `docs`' columns plus `cluster_id` (null for unclustered rows)
   */
  def clusterSurvivors(docs: DataFrame, pairs: DataFrame, idCol: String,
      prefCol: String): DataFrame = {
    val clusters = dedupClusters(pairs).withColumnRenamed("id", idCol)
    val docCols = docs.columns.toSeq
    val joined = docs.join(clusters, Seq(idCol), "left")
    val kept = joined.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(max_by(struct(docCols.map(col): _*),
        struct(col(prefCol), col(idCol) * -1)).as("__doc"))
      .select(col("__doc.*"), col("cluster_id"))
    joined.filter(col("cluster_id").isNull)
      .unionByName(kept.select(joined.columns.map(col): _*))
  }

  /**
   * Incremental exact dedup — the "new crawl against existing corpus"
   * step: keep only `batch` rows whose canonical fingerprint
   * ([[TextAnalysis.fingerprint]]: lowercase, collapse punctuation, md5)
   * does NOT already occur in `corpus`. Compose with [[exact]] /
   * [[clusterSurvivors]] for batch-internal dedup.
   *
   * Scale shape: both sides project to (fingerprint) before the anti-join,
   * so the shuffle carries 16-byte hashes — never text — and the corpus
   * side pre-aggregates to distinct fingerprints map-side. At the
   * 1000-executor scale Spark's runtime bloom-filter join injection
   * (`spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`) prefilters
   * the batch scan; in a standing pipeline the corpus fingerprint set is
   * the thing you'd persist between ingests.
   */
  def incrementalNew(batch: DataFrame, batchTextCol: String,
      corpus: DataFrame, corpusTextCol: String): DataFrame = {
    val corpusFp = corpus
      .select(TextAnalysis.fingerprint(col(corpusTextCol)).as("__fp")).distinct()
    batch.withColumn("__bfp", TextAnalysis.fingerprint(col(batchTextCol)))
      .join(corpusFp, col("__bfp") === col("__fp"), "left_anti")
      .drop("__bfp")
  }

  /**
   * Incremental NEAR-dup matching: for each `batch` document, find the
   * `corpus` documents within exact n-gram Jaccard ≥ `threshold` — the
   * near-dup counterpart of [[incrementalNew]], where BOTH sides are too
   * big to broadcast (unlike [[contaminationFlags]], whose benchmark side
   * is small). Same inverted-index shape as [[ngramJaccardPairs]], with
   * the document-frequency cap computed over the CORPUS side: a shingle
   * appearing in more than `maxCorpusDocFreq` corpus docs is boilerplate
   * and generates no candidates (documented approximation, mirrored by
   * the oracle).
   *
   * Scale shape: one postings join on shingle hash (ids only — text never
   * joins), one partial-aggregated intersection count per candidate pair,
   * size lookups by id, then ONE groupBy on the batch id. No all-pairs
   * term anywhere; skewed shingles are removed by the df cap before the
   * join.
   *
   * @return (id, n_matches, best_jaccard) — one row per batch doc with
   *         ≥ 1 match; best_jaccard rounded to 6 places for portability
   */
  def crossNearDupMatches(batch: DataFrame, batchIdCol: String,
      batchTextCol: String, corpus: DataFrame, corpusIdCol: String,
      corpusTextCol: String, w: Int = 5, threshold: Double = 0.15,
      maxCorpusDocFreq: Int = 1000): DataFrame = {
    // hashed posting keys, like ngramJaccardPairs: both sides of the
    // candidate join and the df-cap aggregation shuffle int64s, emitted
    // by the fused kernel without materializing shingle strings
    val bSh = barrier(batch.select(col(batchIdCol).as("bid"),
      explode(graft.functions.SketchFunctions.shingleHashes(col(batchTextCol), w))
        .as("shingle")))
    val cSh = barrier(corpus.select(col(corpusIdCol).as("cid"),
      explode(graft.functions.SketchFunctions.shingleHashes(col(corpusTextCol), w))
        .as("shingle")))
    val bSizes = bSh.groupBy("bid").agg(count(lit(1)).as("bsize"))
    val cSizes = cSh.groupBy("cid").agg(count(lit(1)).as("csize"))
    // df cap as a broadcast ANTI-join against the HOT-shingle list: the
    // shingles over the cap are by construction few (each is in >
    // maxCorpusDocFreq docs, so there are at most postings/cap of them),
    // while the kept list is nearly the whole vocabulary — inner-joining
    // the corpus postings against the kept list would shuffle the entire
    // postings set a second time just to apply the filter.
    val hotC = cSh.groupBy("shingle").agg(count(lit(1)).as("df_"))
      .filter(col("df_") > maxCorpusDocFreq).select("shingle")
    val keptC = cSh.join(broadcast(hotC), Seq("shingle"), "left_anti")
    bSh.join(keptC, Seq("shingle"))
      .groupBy("bid", "cid").agg(count(lit(1)).as("inter"))
      .join(bSizes, Seq("bid")).join(cSizes, Seq("cid"))
      .withColumn("jaccard_raw", col("inter").cast("double") /
        (col("bsize") + col("csize") - col("inter")))
      .filter(col("jaccard_raw") >= threshold)
      .groupBy(col("bid").as("id"))
      .agg(count(lit(1)).as("n_matches"),
        round(max(col("jaccard_raw")), 6).as("best_jaccard"))
  }

  /**
   * Leakage-safe train/validation/test split: every document assigns to
   * a split by the md5-hash of its near-dup CLUSTER (not its own id), so
   * a cluster of near-duplicates lands wholly in one split — the
   * eval-contamination guard a plain per-document hash split lacks
   * (a near-copy of a validation document in train is leakage a dedup
   * pass upstream may have intentionally kept, e.g. under a
   * keep-k-per-cluster policy). Singletons key on their own id, so with
   * an empty pair list this degrades to the plain hash split.
   *
   * Determinism: cluster identity is [[dedupClusters]]' min-id label;
   * the split hash is the engine-portable md5 % 1e6 rule every sampling
   * operator here uses, salted so re-splits are independent.
   *
   * Scale: clusters are pair-bounded ([[dedupClusters]]' log-rounds
   * propagation); the only other work is one id-keyed left join of the
   * corpus against the (far smaller) clustered subset.
   *
   * @return (id, split_key, split) — split ∈ train | validation | test
   */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      valPpm: Long, testPpm: Long, salt: String = ""): DataFrame = {
    require(valPpm >= 0 && testPpm >= 0 && valPpm + testPpm <= 1000000L,
      "valPpm and testPpm are nonnegative ppm with sum <= 1000000")
    val clusters = dedupClusters(pairs)
      .withColumnRenamed("id", idCol).withColumnRenamed("cluster_id", "__cl")
    val key = coalesce(col("__cl"), col(idCol)).cast("string")
    val h = conv(substring(md5(concat(key, lit(salt))), 1, 15), 16, 10)
      .cast("long") % 1000000L
    df.select(col(idCol)).join(clusters, Seq(idCol), "left")
      .select(col(idCol), key.as("split_key"),
        when(h < testPpm, lit("test"))
          .when(h < testPpm + valPpm, lit("validation"))
          .otherwise(lit("train")).as("split"))
  }
}
