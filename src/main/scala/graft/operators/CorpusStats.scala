package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-level statistical models for training-data curation — operators
 * whose per-document score depends on aggregates over the WHOLE corpus
 * (term frequencies, document frequencies, collection size), unlike the
 * map-only per-document features in [[TextAnalysis]].
 *
 * Scale shape shared by all three: the corpus-wide model is built with
 * one partial-aggregated shuffle keyed on the term (vocabulary-bounded
 * output, map-side combine), the model is joined back, and per-document
 * scores reduce with a second partial-aggregated shuffle keyed on the
 * document id. Nothing is all-pairs; nothing collects to the driver —
 * scalar corpus totals travel as a broadcast one-row cross join so the
 * whole computation stays one lazy plan.
 *
 * Determinism contract (oracle-exact across engines): every per-token
 * floating contribution is rounded to integer MICROS (`round(x*1e6)` →
 * int64) before any order-dependent summation, so document scores are
 * exact integer sums — the same trick the Merkle tree uses for cents
 * (PropertyStore) — and the only cross-engine float surface is a single
 * `ln`/`round` per distinct term, not per occurrence.
 */
object CorpusStats {

  /** The pipeline-wide tokenization (same as quality scoring / n-gram
    * dedup): lowercase alnum runs, everything else a separator. */
  def tokensAlnum(text: Column): Column =
    // NOTE (r16/r17 optimization rounds): in r16 the native kernel
    // measured 2.2-2.4x SLOWER than split+filter through the bm25
    // pipeline (q82 0.94 -> 2.24 s at sf1) - but only under the OLD bm25
    // shape, whose barrier materialized the full (id, toks) arrays and
    // whose three consumer subtrees re-evaluated size()/the isin-filter
    // over the stored corpus-sized arrays; the regression lived in those
    // consumer stages, not the tokenize pass. r17 moved the bm25
    // projection BEFORE the barrier (it now stores (id, dl, __qt)) and
    // the same A/B flipped sign: kernel >= parity at sf1 (q82 0.87-1.06
    // vs 0.96-1.03 s, two alternations) and ahead at sf5-docs (q82 1.26
    // vs 1.35, q110 0.84 vs 0.94, min-of-3 stash A/B). One compiled
    // scan, no interpreted filter lambda, no empty-part intermediates;
    // byte-identical (TextKernelsParitySuite). The split+filter form
    // remains the oracle/portability contract.
    graft.functions.TextStatsFunctions.alnumTokens(text)

  /** One materialization of (id, token array) feeding model-build AND
    * scoring subtrees — one pass over the raw text, doc-sized payload
    * (smaller than the text itself), materialized like the dedup
    * barriers. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.barrier(df.select(col(idCol).as("id"), tokensAlnum(col(textCol)).as("toks")))


  /**
   * Unigram language-model scoring — the cheap perplexity proxy used for
   * corpus quality filtering (the CCNet/KenLM-style signal, reduced to
   * unigrams): the model is the corpus itself, `P(t) = (c_t + 1) / (N + V)`
   * add-one smoothed, and each document scores the sum of its tokens'
   * log-probabilities. Low (very negative) mean scores flag documents made
   * of rare junk tokens; implausibly high ones flag degenerate repetition
   * of the most common tokens.
   *
   * Output: (id, n_tokens, lp_micros) — `lp_micros` is Σ round(ln P(t)·1e6)
   * over token OCCURRENCES, an exact int64 (divide by 1e6·n_tokens for the
   * mean log-prob). Documents with zero tokens carry no score and are
   * omitted, like every other tokenized path.
   *
   * Scale: per-doc term counts are computed INSIDE the row by the native
   * [[graft.functions.SketchImpl.termCounts]] kernel (one compiled
   * tokenize + hash-map pass — NO occurrence explode, NO `groupBy(id,
   * tok)` shuffle of token occurrences; an `array_sort`+run-length HOF
   * formulation of the same idea was measured catastrophically slower:
   * HOFs evaluate interpreted and projection collapse re-ran the sort
   * per array element). The corpus shuffles left are the vocabulary
   * aggregate (partial agg on token, vocabulary-bounded output) and one
   * id-keyed partial agg over the already-distinct pair set. The pairs
   * frame is NOT barriered: re-running the kernel per consumer costs one
   * tokenize pass, measured well under the localCheckpoint
   * materialization it would replace. The model side is
   * vocabulary-bounded (~16 bytes/term; Heap's law saturates it on
   * open-web corpora) but NOT statically bounded — the broadcast join
   * shape and its 8 GB cap are a knob, see [[scoreAgainst]].
   */
  /** The per-doc run-length frame `(id, __pairs)` every unigram consumer
    * scores from — one compiled termCounts pass over the corpus scan. */
  private def docPairs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SketchFunctions.termCounts(col(textCol)).as("__pairs"))
      .filter(size(col("__pairs")) > 0)

  /** The smoothed model `(tok, lp_micros_tok)` — a DETERMINISTIC,
    * vocabulary-bounded function of the corpus (`Heap's law saturates it
    * on open-web text). Public so a deployment can materialize it once
    * per corpus fingerprint — a model build is an offline job exactly
    * like the ANN quantizer training — and score every subsequent query
    * with [[unigramLogProbWith]] / [[perplexityTiersWith]], skipping the
    * corpus-wide vocabulary aggregate that otherwise reruns per query. */
  def unigramModel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docPairs(df, idCol, textCol)
      .select(explode(col("__pairs")).as("p"))
      .groupBy(col("p.tok").as("tok")).agg(sum("p.c").as("c"))
    val totals = counts.agg(sum("c").as("__n"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(totals)).select(
      col("tok"),
      round(log((col("c") + 1).cast("double") /
        (col("__n") + col("__v")).cast("double")) * lit(1e6))
        .cast("long").as("lp_micros_tok"))
  }

  /** The shared pieces of the unigram-LM pipeline: the per-doc
    * run-length frame `(id, __pairs)` and the smoothed model
    * `(tok, lp_micros_tok)`. Split out so [[perplexityTiers]] can score a
    * SAMPLE and the full corpus against the same model without
    * checkpointing the full scored frame. */
  private def unigramParts(df: DataFrame, idCol: String, textCol: String,
      barrierModel: Boolean = false): (DataFrame, DataFrame) = {
    val model = unigramModel(df, idCol, textCol)
    // vocabulary-sized (small): barrier only when two score joins will
    // each broadcast it, so the vocab aggregate runs once
    (docPairs(df, idCol, textCol),
      if (barrierModel) Dedup.barrier(model) else model)
  }

  /** Score a `(id, n_tokens, __pairs)` frame against a model: the
    * vocabulary-bounded model as a broadcast hash join (NOTE Spark's
    * 8 GB broadcast cap, see the scale note above). A broadcast single-row
    * `map<tok,lp>` variant was measured 4× SLOWER at sf1: Spark's
    * `MapData` is array-backed, so `element_at` is a linear scan per
    * lookup — O(pairs × V), not O(pairs). */
  private def scoreAgainst(docs: DataFrame, model: DataFrame,
      idCol: String): DataFrame =
    docs.select(col("id"), explode(col("__pairs")).as("p"))
      .select(col("id"), col("p.tok").as("tok"), col("p.c").as("__cdt"))
      .join(broadcast(model), Seq("tok"))
      .groupBy("id")
      .agg(sum("__cdt").as("n_tokens"),
        sum(col("__cdt") * col("lp_micros_tok")).as("lp_micros"))
      .withColumnRenamed("id", idCol)

  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (docs, model) = unigramParts(df, idCol, textCol)
    scoreAgainst(docs, model, idCol)
  }

  /** [[unigramLogProb]] against a PRE-BUILT `(tok, lp_micros_tok)` model
    * (see [[unigramModel]]): one corpus scan + one broadcast score join +
    * one id-keyed partial agg — the query shape a deployment reading a
    * materialized model runs. Results are identical to [[unigramLogProb]]
    * when the model was built from the same corpus. */
  def unigramLogProbWith(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame =
    scoreAgainst(docPairs(df, idCol, textCol), model, idCol)

  /**
   * CCNet-style perplexity-tier bucketing (Wenzek et al. 2020, "CCNet:
   * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
   * split the corpus into head / middle / tail thirds by language-model
   * surprisal — head = most-fluent third (lowest mean negative log-prob
   * under [[unigramLogProb]]'s corpus model), tail = least. CCNet draws
   * its thresholds from a sample of the corpus, not a global sort; so
   * does this: a deterministic hash sample (`samplePpm`, same md5 rule as
   * `TextAnalysis.sampleByHash`) is ranked and the ⅓ / ⅔ order statistics
   * become the cut points.
   *
   * Determinism: per-doc surprisal is `(-lp_micros) div n_tokens` — both
   * operands positive, so truncating and flooring division agree and any
   * engine computes the identical int64. Docs AT a threshold fall into
   * the better tier (`<=`), making ties deterministic.
   *
   * Scale shape: scoring is [[unigramLogProb]]'s two partial-agg
   * shuffles; the sample is ppm-bounded, so its rank window is a
   * documented single-partition pass over a sample-sized set; the two
   * threshold values broadcast back as a one-row cross join. No global
   * sort of the corpus anywhere.
   *
   * @return (id, n_tokens, surprisal_micros, tier)
   */
  def perplexityTiers(df: DataFrame, idCol: String, textCol: String,
      samplePpm: Long = 100000L, salt: String = ""): DataFrame = {
    val (docs, model) = unigramParts(df, idCol, textCol, barrierModel = true)
    tiersImpl(docs, model, idCol, samplePpm, salt)
  }

  /** [[perplexityTiers]] against a PRE-BUILT model (see [[unigramModel]]):
    * skips the vocabulary aggregate AND the model barrier — the parquet
    * artifact is already shared by the sample and full score joins. */
  def perplexityTiersWith(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, samplePpm: Long = 100000L,
      salt: String = ""): DataFrame =
    tiersImpl(docPairs(df, idCol, textCol), model, idCol, samplePpm, salt)

  /** [[perplexityTiers]] from a PRE-SCORED `(idCol, n_tokens, lp_micros)`
    * frame — [[unigramLogProbWith]]'s output, which a deployment
    * materializes per corpus fingerprint one step after the model build.
    * The sample becomes a hash FILTER over the scored frame (no second
    * score join at all), so the whole query is one scan of the artifact
    * plus the ppm-bounded rank window and a two-value broadcast. Results
    * are identical to [[perplexityTiers]] on the corpus the frame was
    * scored from: sample membership hashes the same id values, and the
    * surprisal arithmetic is the same int64 expression. */
  def perplexityTiersFromScored(scored: DataFrame, idCol: String,
      samplePpm: Long = 100000L, salt: String = ""): DataFrame = {
    val withS = scored.withColumn("surprisal_micros",
      expr("(-lp_micros) div n_tokens"))
    val sample = withS.filter(sampleHash(col(idCol), salt) < samplePpm)
      .select(col(idCol), col("surprisal_micros"))
    assignTiers(withS, sample, idCol, samplePpm)
  }

  /** md5-prefix ppm hash shared by the sample paths — same rule as
    * `TextAnalysis.sampleByHash`. */
  private def sampleHash(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long") % 1000000L

  private def tiersImpl(docs: DataFrame, model: DataFrame, idCol: String,
      samplePpm: Long, salt: String): DataFrame = {
    // The sample subtree scores ONLY the sampled documents against the
    // shared model (the hash filter lands on the pairs frame
    // BEFORE the score join), and the full corpus is scored exactly once,
    // flowing straight into the tier assignment — this replaces r8's
    // checkpoint of the full scored frame, whose materialization cost more
    // than re-scoring the ppm-bounded sample does.
    def surprisal(scoredDf: DataFrame): DataFrame =
      scoredDf.withColumn("surprisal_micros", expr("(-lp_micros) div n_tokens"))
    val scored = surprisal(scoreAgainst(docs, model, idCol))
    val sample = surprisal(scoreAgainst(
        docs.filter(sampleHash(col("id"), salt) < samplePpm), model, idCol))
      .select(col(idCol), col("surprisal_micros"))
    assignTiers(scored, sample, idCol, samplePpm)
  }

  /** Tier assignment shared by the inline and pre-scored paths: rank the
    * sample (ppm-bounded — a documented single-partition window), take
    * the ⅓ / ⅔ order statistics as cut points, broadcast them back. */
  private def assignTiers(scored: DataFrame, sample: DataFrame,
      idCol: String, samplePpm: Long): DataFrame = {
    require(samplePpm > 0 && samplePpm <= 1000000L, "samplePpm is 1..1000000")
    import org.apache.spark.sql.expressions.Window
    val ranked = sample
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("surprisal_micros"), col(idCol))))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy()))
    val cuts = ranked.filter(
        col("__rn") === greatest(lit(1L), expr("__n div 3")) ||
        col("__rn") === greatest(lit(1L), expr("(__n * 2) div 3")))
      .agg(min("surprisal_micros").as("__t1"), max("surprisal_micros").as("__t2"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("surprisal_micros") <= col("__t1"), lit("head"))
          .when(col("surprisal_micros") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("n_tokens"), col("surprisal_micros"), col("tier"))
  }

  /**
   * BM25 keyword retrieval (Robertson/Spärck Jones Okapi weighting): score
   * every document against a bag of query terms, return the global top
   * `kTop` by score with the id as the deterministic tiebreak. The engine's
   * full-text MATCH answers "which rows contain these tokens"; this is the
   * RANKED version a retrieval pipeline needs.
   *
   * Per (document, term): `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
   * with `idf = ln(1 + (N − df + ½)/(df + ½))`; contributions round to
   * micros before the per-document sum (see the object doc), so scores are
   * exact int64 and the top-k cut is deterministic.
   *
   * Scale: tokens are filtered to the query terms BEFORE the explode —
   * postings are (matching docs × query terms)-sized, never corpus-token-
   * sized; corpus totals (N, Σdl) travel as a broadcast one-row join; df
   * per term is a terms-sized broadcast; the global top-k is a
   * TakeOrderedAndProject (per-partition heaps + driver merge of kTop),
   * not a single-partition sort. (A fold-the-score-in-the-row variant —
   * per-row tf structs + a one-row df map — was tried and measured
   * SLOWER at sf0.1 and sf1; query-term postings are sparse enough that
   * the small posting shuffle beats the extra per-row passes.)
   */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], kTop: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    // Project BEFORE the barrier (guide §2.3): every downstream consumer
    // needs only (id, doc length, query-term occurrences), so that is
    // what gets materialized — ~20 B/doc instead of the full token
    // arrays (the pre-r17 shape barriered (id, toks) and each of the
    // THREE consumer subtrees re-ran size()/the interpreted isin-filter
    // HOF over the stored corpus-sized arrays; the tf subtree alone is
    // planned twice, for scoring and for df). The tokenize + filter now
    // run exactly once per document, at barrier build.
    val base = Dedup.barrier(
      df.select(col(idCol).as("id"), tokensAlnum(col(textCol)).as("toks"))
        .select(col("id"), size(col("toks")).as("dl"),
          filter(col("toks"), t => t.isin(terms.map(lit): _*)).as("__qt")))
    // corpus stats over ALL docs (N and avgdl include non-matching docs)
    val stats = base.agg(count(lit(1)).as("__ndocs"), sum("dl").as("__sumdl"))
    val tf = base.select(col("id"), col("dl"), explode(col("__qt")).as("tok"))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df_"))
    val scored = tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl",
        col("__sumdl").cast("double") / col("__ndocs").cast("double"))
      .withColumn("__idf", log(lit(1.0) +
        (col("__ndocs").cast("double") - col("df_") + lit(0.5)) /
          (col("df_") + lit(0.5))))
      // (1 − b) pre-folded to a literal so both engines associate the
      // denominator identically; tf and dl enter as exact doubles
      .withColumn("__contrib", round(
        col("__idf") *
          (col("tf") * lit(k1 + 1.0) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("dl").cast("double") / col("__avgdl"))))) *
          lit(1e6)).cast("long"))
    scored.groupBy("id").agg(sum("__contrib").as("score_micros"))
      .orderBy(col("score_micros").desc, col("id"))
      .limit(kTop)
      .withColumnRenamed("id", idCol)
  }

  /**
   * Corpus n-gram statistics: document frequency of every word `w`-gram
   * (distinct per document — the same shingle sets the dedup family
   * blocks on), global top `topN` by frequency, gram text ascending as
   * the deterministic tiebreak. The "what is this corpus made of" summary
   * every curation run starts from, and the empirical source for df-cap
   * choices in [[Dedup.ngramJaccardPairs]]-style blocking.
   *
   * Scale: one explode + one partial-aggregated shuffle on the gram,
   * TakeOrderedAndProject for the cut — the same shape as a word count.
   */
  def ngramDocFreq(df: DataFrame, textCol: String, w: Int, topN: Int): DataFrame =
    df.select(explode(Dedup.shingles(col(textCol), w)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(topN)

  /**
   * PMI-ranked collocations: the `topN` adjacent token bigrams by
   * pointwise mutual information, `PMI(a,b) = ln( P(ab) / (P(a)·P(b)) )`
   * with `P(ab) = c_ab / M` over bigram occurrences and `P(x) = c_x / N`
   * over token occurrences — the classic vocabulary-induction signal
   * (candidate merges for a BPE-style tokenizer, multi-word entities for
   * an index). `minCount` suppresses the unstable low-frequency tail,
   * where PMI otherwise degenerates to an inverse-frequency ranking.
   *
   * Determinism: one double ratio `(c_ab·N·N) / (M·c_a·c_b)` evaluated in
   * a fixed association order, one `ln`, rounded to integer micro-nats —
   * the same single-ln surface as [[unigramLogProb]]. IEEE-754 binary64
   * arithmetic is operation-for-operation deterministic, so any engine
   * mirroring the expression computes the identical int64.
   *
   * Scale: bigram and unigram counts are two partial-aggregated shuffles
   * keyed on vocabulary-bounded terms; the two count joins broadcast the
   * unigram side explicitly (vocabulary-bounded by construction, same
   * argument as [[unigramLogProb]]'s model join); scalar totals ride a
   * broadcast one-row cross join; the final cut is TakeOrdered. Nothing
   * corpus-quadratic, nothing on the driver.
   *
   * @return (bigram, c_ab, pmi_micros) — top `topN` by PMI desc, bigram asc
   */
  /**
   * BPE merge-table induction (Sennrich et al. 2016, "Neural Machine
   * Translation of Rare Words with Subword Units"): learn `numMerges`
   * byte-pair merges from the corpus — the tokenizer-training step of a
   * pre-training pipeline, the operator that turns PMI-style vocabulary
   * signals into an actual subword vocabulary.
   *
   * Shape: ONE distributed aggregation builds the word-frequency dict
   * (vocabulary-bounded output with map-side combine), capped to the
   * `maxWords` most frequent words (ties broken by word ascending — the
   * usual min-frequency cut, TakeOrdered not a global sort); the merge
   * loop then runs on the DRIVER over that dict, exactly as production
   * BPE trainers do — the dict, not the corpus, is the training input,
   * and it is a bounded reference object like the ANN codebooks. Words
   * start as character sequences with a `</w>` end marker; each round
   * merges the globally most frequent adjacent symbol pair (ties to the
   * lexicographically smallest pair) and records it.
   *
   * Deterministic by construction: counts are exact longs, the cut and
   * every tie-break are total orders — which is what lets the oracle
   * re-train the identical table in SQL (a recursive CTE whose working
   * table holds the word states, one merge round per step; greedy
   * left-to-right application encodes as match-run parity).
   *
   * @return (rank, left, right, merged, freq) — rank is 1-based merge order
   */
  def bpeMerges(df: DataFrame, idCol: String, textCol: String,
      numMerges: Int, maxWords: Int = 100000): DataFrame = {
    require(numMerges >= 1 && maxWords >= 1, "numMerges and maxWords must be positive")
    val sess = df.sparkSession
    import sess.implicits._
    val dict: Array[(String, Long)] =
      df.select(explode(tokensAlnum(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(maxWords)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    // words as mutable symbol sequences (chars + end marker)
    val words: Array[(Array[String], Long)] = dict.map { case (w, c) =>
      ((w.map(_.toString) :+ "</w>").toArray, c)
    }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var syms: Array[Array[String]] = words.map(_._1)
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length) {
        val s = syms(i); val c = words(i)._2
        var j = 0
        while (j < s.length - 1) {
          val k = (s(j), s(j + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
          j += 1
        }
        i += 1
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val ((l, r), freq) = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank, l, r, l + r, freq))
        syms = syms.map { s =>
          if (s.length < 2) s
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
                out += l + r; j += 2
              } else { out += s(j); j += 1 }
            }
            out.toArray
          }
        }
        rank += 1
      }
    }
    merges.result().toDF("rank", "left", "right", "merged", "freq")
  }

  /** Token counts under a LEARNED tokenizer: apply a [[bpeMerges]] table
    * per document — the real-token-budget companion of the whitespace /
    * BPE-ish regex counters in [[TextAnalysis]]. Entirely map-side: the
    * merge table rides inside the native kernel as a plan-time reference
    * object (codebook discipline) and word encodes memoize per thread.
    * @return (id, n_bpe_tokens) */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
      graft.functions.SketchFunctions.bpeTokenCount(col(textCol), merges)
        .as("n_bpe_tokens"))

  /** Token-ID SEQUENCES under the learned tokenizer — the encode stage
    * itself (what a count alone cannot provide): each document becomes
    * the concatenation of its words' greedy-merge encodes, mapped
    * through the table's deterministic vocab. Entirely map-side, one
    * native-kernel call per row; the merge table rides as a plan-time
    * reference object. @return (id, token_ids array<int>, n_bpe_tokens) */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
        graft.functions.SketchFunctions.bpeEncodeIds(col(textCol), merges)
          .as("token_ids"))
      .withColumn("n_bpe_tokens", size(col("token_ids")).cast("long"))

  /**
   * MATERIALIZED training shards under the learned tokenizer — the last
   * stage between a corpus and a dataloader: per hash-shard, documents'
   * token-id encodes concatenate in deterministic id order into one
   * stream chopped every `seqTokens` ids; each output row is one
   * fixed-length training sequence (the final partial sequence of a
   * shard padded with the table's pad id = `vocabSize`, the next free
   * slot). [[TextAnalysis.packSequences]] computes this layout's
   * ASSIGNMENT under whitespace counts; this operator EMITS the packed
   * id sequences themselves under the learned BPE table.
   *
   * Plan shape at 100 TB: encode is map-side; the per-shard cumulative
   * offset is ONE window per hash shard (no corpus-wide sort); each
   * document then explodes into only the 1 + n/seqTokens sequences it
   * intersects, carrying exactly its slice of ids into the (shard, seq)
   * assembly exchange. The encodes DO also ride the window exchange
   * (compact int arrays) — the r17 optimization round A/B'd the
   * window-over-ints alternative (barrier the encode, window over
   * (id, shard, n), join offsets back by id, the q76 digest treatment)
   * and it measured 2x SLOWER at sf5-docs (6.5 vs 3.1 s, 5-run min,
   * same box-hour; ~parity at sf1): the barrier materializes the
   * corpus-scale encodes the direct shape never stores, and that write
   * outgrows the saved shuffle of already-compact ids. Two int-array
   * exchange crossings is the measured optimum here. Parallelism is the
   * shard count on the window and the (shard, seq) key space on the
   * assembly.
   *
   * Determinism: shard = md5(id), order = id, piece positions within a
   * sequence are disjoint offsets — `array_sort` on (pos, …) structs
   * rebuilds the stream identically on any engine.
   *
   * @return (pack_shard, seq_idx, n_docs, n_pad, token_ids[seqTokens])
   */
  def packTokenIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], seqTokens: Int,
      shards: Int = 64): DataFrame = {
    require(seqTokens >= 1 && shards >= 1, "seqTokens and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val padId = new graft.functions.BpeTable(merges).vocabSize
    val L = seqTokens
    val shard = (conv(substring(md5(col(idCol).cast("string")), 1, 15),
      16, 10).cast("long") % shards)
    val w = Window.partitionBy(col("pack_shard")).orderBy(col(idCol))
    val pieces = df.select(col(idCol), shard.as("pack_shard"),
        graft.functions.SketchFunctions.bpeEncodeIds(col(textCol), merges)
          .as("ids"))
      .withColumn("n", size(col("ids")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("end_off", sum("n").over(w))
      .withColumn("start_off", col("end_off") - col("n"))
      .withColumn("seq_idx",
        explode(sequence(expr(s"start_off DIV $L"), expr(s"(end_off - 1) DIV $L"))))
      .select(col("pack_shard"), col("seq_idx"),
        struct(
          (greatest(col("seq_idx") * L, col("start_off")) - col("seq_idx") * L)
            .cast("int").as("pos"),
          expr(s"slice(ids, CAST(greatest(seq_idx * $L, start_off) - start_off AS INT) + 1, " +
            s"CAST(least((seq_idx + 1) * $L, end_off) - greatest(seq_idx * $L, start_off) AS INT))")
            .as("chunk")).as("piece"))
    pieces.groupBy("pack_shard", "seq_idx")
      .agg(count(lit(1)).as("n_docs"),
        expr("flatten(transform(array_sort(collect_list(piece)), x -> x.chunk))")
          .as("token_ids"))
      .withColumn("n_pad", (lit(L) - size(col("token_ids"))).cast("int"))
      .withColumn("token_ids",
        when(col("n_pad") > 0,
          concat(col("token_ids"), array_repeat(lit(padId), col("n_pad"))))
          .otherwise(col("token_ids")))
      .select("pack_shard", "seq_idx", "n_docs", "n_pad", "token_ids")
  }

  /** The corpus collocation-statistics tables behind PMI — UNFILTERED
    * adjacent-bigram counts `(a, b, c_ab)` and unigram occurrence counts
    * `(tok, c)`. A deterministic, vocabulary-bounded function of the
    * corpus, public so a deployment materializes it once per corpus
    * fingerprint (collocation/vocab-induction statistics are an offline
    * build exactly like the unigram LM) and every PMI query reads the
    * artifact via [[pmiFromStats]]. Two corpus passes total: ONE
    * occurrence explode for the bigram pairs, one compiled `termCounts`
    * run-length pass for the unigrams (no occurrence explode — the
    * lesson of the unigram family applies unchanged). Both normalizer
    * totals derive from the count tables themselves, so nothing scans
    * the corpus a third time. */
  def collocationStats(df: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = tokenized(df, idCol, textCol)
    // adjacent pairs within a document, order-preserving, occurrences
    val bigrams = toks.select(explode(expr(
      "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
        "(t, i) -> struct(t AS a, toks[i + 1] AS b))")).as("bg"))
      .groupBy(col("bg.a").as("a"), col("bg.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    val uni = df.select(
        explode(graft.functions.SketchFunctions.termCounts(col(textCol)))
          .as("p"))
      .groupBy(col("p.tok").as("tok")).agg(sum("p.c").as("c"))
    (bigrams, uni)
  }

  /** PMI over PRE-BUILT collocation statistics (see [[collocationStats]];
    * `bigrams` must be the UNFILTERED count table — the pair-mass
    * normalizer Σ c_ab is derived from it, so a pre-filtered table would
    * skew every score). One vocabulary-sized aggregate pass + two
    * broadcast joins; no corpus scan anywhere. */
  def pmiFromStats(bigrams: DataFrame, uni: DataFrame,
      minCount: Long = 5L, topN: Int = 50): DataFrame = {
    require(minCount >= 1 && topN >= 1, "minCount and topN must be positive")
    val totals = uni.agg(sum("c").as("__n"))
      .crossJoin(bigrams.agg(sum("c_ab").as("__m")))
    bigrams.filter(col("c_ab") >= minCount)
      .join(broadcast(uni.withColumnRenamed("tok", "a").withColumnRenamed("c", "c_a")), Seq("a"))
      .join(broadcast(uni.withColumnRenamed("tok", "b").withColumnRenamed("c", "c_b")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(concat(col("a"), lit(" "), col("b")).as("bigram"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("__n") * col("__n") /
          (col("__m").cast("double") * col("c_a") * col("c_b"))) * lit(1e6))
          .cast("long").as("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("bigram"))
      .limit(topN)
  }

  def pmiBigrams(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, topN: Int = 50): DataFrame = {
    val (bigrams, uni) = collocationStats(df, idCol, textCol)
    // the inline path references the bigram table twice (pair-mass total
    // + the filtered join side) — barrier it so the corpus explode runs
    // once; a materialized-artifact caller skips this (parquet re-scan
    // of a vocabulary-sized table is cheaper than a checkpoint)
    pmiFromStats(Dedup.barrier(bigrams), uni, minCount, topN)
  }

  /**
   * TRAINED curated-vs-crawl quality classifier — multinomial Naive
   * Bayes over unigram counts. This is the WebText-filter shape
   * (Radford et al. 2019 trained a classifier separating curated pages
   * from raw CommonCrawl; GPT-3, Brown et al. 2020 appendix A, reused
   * it for quality filtering): label a reference slice of the corpus
   * positive, fit a text classifier, score EVERYTHING with it. The
   * fixed-logit filter ([[TextAnalysis.qualityModelScore]]) applies
   * hand-set weights; this one LEARNS its weights from the corpus.
   *
   * Naive Bayes is the deterministic member of the classifier family:
   * the "fit" is pure counting (no SGD order-dependence, no float
   * accumulation across rows), so the learned model is a deterministic
   * function of the corpus — reproducible by any engine, which makes
   * the whole train→apply loop oracle-checkable, and materializable per
   * corpus fingerprint exactly like the unigram LM / BPE table / ANN
   * quantizers.
   *
   * Model row per vocabulary token w and class c ∈ {pos, neg}: the
   * Laplace-smoothed log-likelihood ln((count(w,c)+1)/(tokens_c+V)) in
   * integer micros, V = corpus vocabulary size. Both classes share one
   * vocabulary frame, so a token seen only in one class still carries a
   * (smoothed) score for the other.
   *
   * Scale shape: training is ONE token-keyed partial-agg shuffle
   * (vocabulary-bounded output, map-side combine) with the corpus
   * totals broadcast back as a one-row cross join — the same two-step
   * as [[unigramModel]], just with two count columns.
   *
   * @param pos boolean labeling column (must be non-null; both classes
   *            must be non-empty or the prior in [[nbPriorDelta]] is
   *            undefined)
   */
  def nbQualityModel(df: DataFrame, idCol: String, textCol: String,
      pos: Column): DataFrame =
    nbModelFromCounts(nbTokenCounts(df, textCol, pos))

  /** The classifier's sufficient statistics: per-token per-class
    * occurrence counts `(tok, cp, cn)` — ONE token-keyed partial-agg
    * shuffle, vocabulary-bounded output. Public because this exact
    * aggregation is also the INCREMENTAL maintenance plan: applied to a
    * `readStream` frame, Catalyst plans the identical `groupBy(tok)`
    * as a stateful streaming aggregation whose running state IS the
    * model's count table (see [[graft.streaming.StreamModel]]). */
  def nbTokenCounts(df: DataFrame, textCol: String, pos: Column): DataFrame =
    df.select(pos.as("__pos"),
        graft.functions.SketchFunctions.termCounts(col(textCol)).as("__pairs"))
      .select(col("__pos"), explode(col("__pairs")).as("p"))
      .groupBy(col("p.tok").as("tok"))
      .agg(sum(when(col("__pos"), col("p.c")).otherwise(lit(0L))).as("cp"),
        sum(when(col("__pos"), lit(0L)).otherwise(col("p.c"))).as("cn"))

  /** Finish a model from a counts table ([[nbTokenCounts]] or any
    * snapshot of its streaming state): Laplace smoothing + micro
    * rounding. Deterministic in the counts alone, so a model refit from
    * an incrementally-maintained snapshot is byte-identical to the
    * batch fit over the same documents. */
  def nbModelFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.agg(sum("cp").as("__np"), sum("cn").as("__nn"),
      count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(totals)).select(
      col("tok"),
      round(log((col("cp") + 1).cast("double") /
        (col("__np") + col("__v")).cast("double")) * lit(1e6))
        .cast("long").as("lp_pos_micros"),
      round(log((col("cn") + 1).cast("double") /
        (col("__nn") + col("__v")).cast("double")) * lit(1e6))
        .cast("long").as("lp_neg_micros"))
  }

  /** The class-prior log-odds ln(P(pos)/P(neg)) in integer micros, as a
    * one-row frame `(prior_delta_micros)` — counted over ALL labeled
    * documents (empty documents carry prior information even though they
    * contribute no token counts). */
  def nbPriorDelta(df: DataFrame, pos: Column): DataFrame =
    df.agg(sum(when(pos, 1L).otherwise(0L)).as("__p"), count(lit(1)).as("__t"))
      .select(round(log(col("__p").cast("double") /
        (col("__t") - col("__p")).cast("double")) * lit(1e6))
        .cast("long").as("prior_delta_micros"))

  /** Score every document against a PRE-BUILT NB model + prior (see
    * [[nbQualityModel]] / [[nbPriorDelta]]): the standard log-odds sum
    * logit = prior + Σ_w c_dw·(lp_pos(w) − lp_neg(w)), exact in int64
    * micros. One corpus scan, ONE broadcast score join (vocabulary-
    * bounded model; [[unigramModel]]'s 8 GB broadcast-cap note applies),
    * ONE id-keyed partial agg — the unigram-LM deployment shape.
    * Documents with no in-vocabulary tokens are dropped (no token
    * evidence; standard NB ignores unseen words).
    *
    * @return (idCol, n_tokens, logit_micros, pred_pos) with pred_pos ∈
    *         {0, 1} as int64 (`logit > 0`) */
  def nbClassifyWith(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, prior: DataFrame): DataFrame =
    docPairs(df, idCol, textCol)
      .select(col("id"), explode(col("__pairs")).as("p"))
      .join(broadcast(model), col("p.tok") === col("tok"))
      .groupBy("id")
      .agg(sum(col("p.c")).as("n_tokens"),
        sum(col("p.c") * (col("lp_pos_micros") - col("lp_neg_micros")))
          .as("__delta"))
      .crossJoin(broadcast(prior))
      .select(col("id").as(idCol), col("n_tokens"),
        (col("prior_delta_micros") + col("__delta")).as("logit_micros"),
        (col("prior_delta_micros") + col("__delta") > 0)
          .cast("long").as("pred_pos"))

  /** Train-and-apply in one lazy plan (the inline twin of
    * [[nbClassifyWith]], for corpora where the model isn't
    * materialized). */
  def nbClassify(df: DataFrame, idCol: String, textCol: String,
      pos: Column): DataFrame =
    nbClassifyWith(df, idCol, textCol, nbQualityModel(df, idCol, textCol, pos),
      nbPriorDelta(df, pos))
}
