package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a large-scale training-data pipeline
 * (north-star extension beyond the reference's surface, SURVEY.md §2.8).
 * All pure Column expressions — map-only, no shuffle, codegen'd — so they
 * stream over 100 TB of documents at scan speed.
 */
object TextAnalysis {

  /** Whitespace token count. Native kernel
    * ([[graft.functions.TextStatsImpl.wsTokenCount]]) — one compiled char
    * scan; `size(filter(split(text, "\\s+"), ...))` split-allocated the
    * parts array and ran the filter lambda INTERPRETED per token (r16
    * optimization round; byte-identical, differential-tested). */
  def tokenCountWs(text: Column): Column =
    graft.functions.TextStatsFunctions.wsTokenCount(text)

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, and single
    * punctuation marks each count as one token (GPT-2-style pre-split,
    * without the merges table). The CONTRACT pattern is
    * `[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]` (RE2-compatible — no lookarounds
    * — so the same pattern runs in any engine, and the oracle twins keep
    * using it); the engine runs the equivalent single-pass native kernel
    * ([[graft.functions.TextStatsImpl.bpeishTokenCount]]) instead of
    * `size(regexp_extract_all(...))`, which materialized every match as a
    * string (r16 optimization round; byte-identical, differential-tested). */
  def tokenCountBpeish(text: Column): Column =
    graft.functions.TextStatsFunctions.bpeishTokenCount(text)

  /** Common-English stopword list used by quality scoring + language id. */
  val enStop: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "by", "from")

  /**
   * Quality-scoring feature vector: char length, token count, mean token
   * length, punctuation ratio, stopword ratio, all-caps ratio. Mirrors the
   * common C4/Gopher-style filters; rows are later thresholded downstream.
   */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    // ONE compiled traversal accumulating (count, total length, stopword
    // hits) — [[graft.functions.TextStatsImpl.qualityStats]]. The prior
    // form (an `aggregate` HOF over the split array) already collapsed the
    // 4-5 per-feature tokenizations into one pass, but HOFs evaluate
    // INTERPRETED and allocated an accumulator struct per token (r16
    // optimization round; byte-identical, differential-tested). The
    // accumulator still survives as its own projection — CollapseProject
    // refuses to duplicate non-cheap expressions referenced more than
    // once — so the kernel runs exactly once per row.
    val stats = graft.functions.TextStatsFunctions.qualityStats(text)
    val s = col("__qstats")
    df.withColumn("__qstats", stats)
      .withColumn("n_chars_m", length(text))
      .withColumn("n_tokens", s("n"))
      .withColumn("mean_token_len",
        round(when(s("n") > 0, s("len").cast("double") / s("n"))
          .otherwise(lit(0.0)), 6))
      .withColumn("punct_ratio",
        round(length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", ""))
          .cast("double") / greatest(length(text), lit(1)), 6))
      .withColumn("stopword_ratio",
        round(s("stop").cast("double") / greatest(s("n"), lit(1)), 6))
      .drop("__qstats")
  }

  /**
   * Model-based quality filter — the classifier-filter stage of modern
   * curation pipelines (the DCLM / FineWeb-Edu pattern: a lightweight
   * model scores every document and a threshold cuts), reduced to a
   * transparent linear model over the engine's OWN quality features so
   * the whole decision is engine-portable. Determinism contract (same
   * as the corpus-stats scores): each term `wᵢ·fᵢ` rounds to integer
   * MICROS before the sum, so `logit_micros` is an exact int64 — a
   * 4-term double dot product summed before rounding was measured
   * drifting one ulp between engines, flipping the final digit. `keep`
   * compares the integer logit to the integer-micros threshold, so the
   * cut is exact across engines.
   *
   * Scale: map-only — [[qualityFeatures]]' single-pass kernel plus one
   * projection; the model is a handful of plan-time literals (a real
   * fastText-style classifier slots in as a broadcast weight vector over
   * hashed n-grams with the same output contract).
   *
   * @param weights (feature column → weight), applied in sequence order;
   *                names must be [[qualityFeatures]] outputs
   * @return input + (logit_micros, keep)
   */
  def qualityModelScore(df: DataFrame, idCol: String, text: Column,
      weights: Seq[(String, Double)], bias: Double,
      threshold: Double): DataFrame = {
    require(weights.nonEmpty, "the model needs at least one feature weight")
    val feats = qualityFeatures(df, text)
    val z = weights.foldLeft(lit(math.round(bias * 1e6)): Column) {
      case (acc, (f, w)) =>
        acc + round(lit(w) * col(f).cast("double") * lit(1e6)).cast("long")
    }
    feats
      .withColumn("logit_micros", z)
      .withColumn("keep",
        col("logit_micros") >= lit(math.round(threshold * 1e6)))
  }

  /**
   * Per-domain document cap — the crawl-curation guard against any one
   * domain dominating the training mix (the "no more than N pages per
   * site" rule every web-scale pipeline applies after dedup): keep at
   * most `cap` documents per domain, selected by a deterministic md5
   * rank (`md5(id || salt)`, same rule as [[sampleByHash]]) with the id
   * as tiebreak, so reruns and engines agree document-for-document.
   *
   * Scale: one hash-partitioned window over the HIGH-cardinality domain
   * column — parallel by construction, per-group state is the rank
   * counter; no collect, no skew (a pathological mega-domain costs one
   * partition's sort of its own rows).
   *
   * @return kept rows + `domain_rank` (1-based within the domain)
   */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
      cap: Int, salt: String = ""): DataFrame = {
    require(cap >= 1, "cap must be at least 1")
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))),
      1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col(domainCol)).orderBy(h, col(idCol))
    df.withColumn("domain_rank", row_number().over(w))
      .filter(col("domain_rank") <= cap)
  }

  /** Per-language marker words for the n-gram/stopword language-id
    * heuristic (deterministic, dictionary-based). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "los", "las", "es"))

  /**
   * Language id: count marker-word hits per language over the token
   * multiset; argmax with fixed language order (en,fr,de,es) as tiebreak;
   * "und" (undetermined) when no marker hits at all.
   */
  def languageId(text: Column): Column =
    // ONE compiled pass over the lowercased string
    // ([[graft.functions.TextStatsImpl.langId]]): letter-run tokens,
    // per-language marker counts, argmax with the fixed (en,fr,de,es)
    // tie order, "und" on zero hits. History: the naive per-language
    // size(filter(...)) form ran the split ~20× per row; r11 collapsed
    // it into one `aggregate` HOF traversal (2.6× at 10× sf0.1); r16
    // replaced the HOF — which evaluates INTERPRETED and allocates a
    // 4-field accumulator struct per token — with the native kernel
    // (measured 4.0× on the sf1 q30 wall vs the HOF — 2.65 → 0.66 s
    // min-of-3 back-to-back stash A/B — byte-identical,
    // differential-tested incl. adversarial unicode).
    graft.functions.TextStatsFunctions.langId(text)

  /** Canonical-form fingerprint: lowercase, collapse non-alphanumerics to
    * single spaces, trim, md5 — catches case/punctuation/whitespace-only
    * near-duplicates exactly (the cheap first pass before MinHash). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /**
   * Winnowing fingerprints — rolling-hash document fingerprinting
   * (Schleimer/Wilkinson/Aiken, "Winnowing: Local Algorithms for Document
   * Fingerprinting", SIGMOD 2003; the MOSS scheme): hash every `k`-char
   * gram of the canonical text (lowercase, punctuation collapsed — the
   * same canonical form as [[fingerprint]]), then in every window of `w`
   * consecutive gram hashes select the minimum; the distinct selected
   * hashes are the document's fingerprint set. The winnowing guarantee:
   * two documents sharing a canonical substring of at least `w + k - 1`
   * chars share at least one fingerprint — while storing only a
   * `2/(w+1)` fraction of the gram hashes, which is what makes the
   * downstream inverted index ([[graft.operators.Dedup.winnowingPairs]])
   * `(w+1)/2`× sparser than full-shingle postings at the same guarantee.
   *
   * A document whose canonical form is shorter than one gram yields no
   * fingerprints; one with fewer than `w` grams yields its single global
   * minimum (the standard short-document degeneration).
   *
   * Hashes are the portable 60-bit md5 prefix (first 15 hex chars as
   * int64) used by every other lane here, so any engine recomputes the
   * identical set in SQL. Map-only — one canonicalization and one
   * single-pass native kernel per document
   * ([[graft.functions.WinnowImpl]]: digest bytes straight to the int64,
   * monotonic-deque window minima), no shuffle: at 100 TB this runs at
   * scan speed. [[winnowFingerprintsComposable]] is the byte-identical
   * pure-SQL form any engine can replay (parity asserted in tests).
   *
   * @return (`idCol`, fingerprint: long) — one row per distinct selected hash
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, "need k > 0 and w > 0")
    val canon = trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "))
    df.select(col(idCol), canon.as("__canon"))
      .filter(length(col("__canon")) >= k)
      .select(col(idCol), explode(
        graft.functions.WinnowFunctions.fingerprints(col("__canon"), k, w))
        .as("fingerprint"))
  }

  /** The composable higher-order-function form of [[winnowFingerprints]] —
    * the SQL-portable reference the oracle replays (gram hashes via
    * md5 hex + base-16 conv, window minima via `array_min(slice(...))`).
    * Byte-identical output to the native kernel; kept as the portability
    * contract and the parity-test witness. */
  def winnowFingerprintsComposable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, "need k > 0 and w > 0")
    val canon = trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "))
    val c = col("__canon")
    val h = col("__h")
    val m = size(h)
    df.select(col(idCol), canon.as("__canon"))
      .filter(length(c) >= k)
      // __h survives as its own projection (referenced more than once →
      // CollapseProject keeps it), so the gram hashing runs once per row
      .withColumn("__h", transform(sequence(lit(1), length(c) - (k - 1)),
        i => conv(substring(md5(c.substr(i, lit(k))), 1, 15), 16, 10).cast("long")))
      .withColumn("fingerprint", explode(array_distinct(
        when(m >= w, transform(sequence(lit(1), m - (w - 1)),
          i => array_min(slice(h, i, lit(w)))))
          .otherwise(array(array_min(h))))))
      .select(col(idCol), col("fingerprint"))
  }

  /**
   * Overlapping token-window chunking — the standard pre-training shaping
   * step (documents → fixed-size training windows). Sliding window of
   * `chunkSize` whitespace tokens advancing by `stride`; a document shorter
   * than one window yields one chunk; otherwise the last window covers the
   * tail (so every token lands in ≥ 1 chunk and the overlap is
   * `chunkSize - stride`).
   *
   * Map-only: one tokenization per document, chunk starts exploded from a
   * `sequence` — no shuffle, no state; at 100 TB the output is a row-count
   * multiplication at scan speed, which is exactly what a chunker must be.
   */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    val toks = graft.functions.TextStatsFunctions.wsTokens(col(textCol))
    val n = col("__n")
    // number of windows: 1 when the doc fits one, else ceil((n-size)/stride)+1
    val nChunks = when(n <= chunkSize, lit(1))
      .otherwise(ceil((n - chunkSize).cast("double") / stride).cast("int") + 1)
    val start = col("chunk_idx") * stride
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(n > 0)
      .select(col(idCol), n, col("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"), start + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(lit(chunkSize), n - start).as("n_tokens"))
  }

  /**
   * Deterministic hash sampling: keep a document iff
   * `md5(id ++ salt) mod 100 < pct` — the corpus-subsampling primitive
   * (ablation slices, held-out splits). Unlike `df.sample`, membership is a
   * pure function of the id: stable across runs, engines, partitionings,
   * and re-ingests, and two different salts give independent slices.
   * Map-only; the first 15 md5 hex chars (60 bits) keep the arithmetic in
   * int64 exactly like the MinHash lanes ([[Dedup]]), so any engine can
   * recompute membership in SQL.
   */
  def sampleByHash(df: DataFrame, idCol: String, pct: Int, salt: String = ""): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct must be 0..100")
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")
    df.filter(h % 100 < pct)
  }

  /**
   * Repetition signals (the Gopher-style repetitiousness filters):
   * fraction of duplicated words, 2-grams, and 3-grams — high values mark
   * boilerplate, keyword spam, and degenerate generations that the
   * length/punctuation features miss. `1 - |distinct|/|total|` per n-gram
   * order, computed entirely WITHIN the row (array ops over one
   * tokenization — no explode, no shuffle): at 100 TB this runs at scan
   * speed like the other quality features.
   */
  def repetitionSignals(df: DataFrame, text: Column): DataFrame = {
    // total/distinct 1/2/3-gram counts in ONE compiled pass
    // ([[graft.functions.TextStatsImpl.repetitionCounts]]; grams WITH
    // multiplicity, joined by single spaces — the same values the prior
    // zip_with/slice/array_distinct chain produced, but that chain ran
    // INTERPRETED and array_distinct re-hashed each materialized gram
    // array per row; r16 optimization round, byte-identical,
    // differential-tested). The `1 - distinct/total` fractions stay in
    // Catalyst so the double division and round(…, 6) are bit-identical
    // to the original expression tree.
    def dupFrac(total: Column, distinct: Column): Column =
      round(when(total > 0,
        lit(1.0) - distinct.cast("double") / total)
        .otherwise(lit(0.0)), 6)
    val s = col("__rstats")
    df.withColumn("__rstats",
        graft.functions.TextStatsFunctions.repetitionCounts(text))
      .withColumn("dup_word_frac", dupFrac(s("n1"), s("d1")))
      .withColumn("dup_2gram_frac", dupFrac(s("n2"), s("d2")))
      .withColumn("dup_3gram_frac", dupFrac(s("n3"), s("d3")))
      .drop("__rstats")
  }

  /** PII-bearing spans a scrub pass redacts: emails, dotted-quad IPs, long
    * digit runs (ids / account numbers). RE2-compatible patterns — no
    * lookarounds — so the same regexes run in any engine. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{9,}\\b" -> "<ID>")

  /** Redact PII spans (email → IP → long-number order: emails may contain
    * digits and dots, so they must leave the text first). Map-only codegen'd
    * regexp chain. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Count of PII spans a scrub actually redacts (audit/reporting side):
    * each pattern counts against the PROGRESSIVELY scrubbed text, exactly
    * like [[scrubPii]] replaces — counting every pattern on the original
    * text would double-count overlaps (an IP inside an email local-part
    * is redacted once, as part of the email). */
  def piiCount(text: Column): Column = {
    val (_, n) = piiPatterns.foldLeft((text, lit(0))) { case ((t, acc), (p, r)) =>
      (regexp_replace(t, p, r), acc + size(regexp_extract_all(t, lit(p), lit(0))))
    }
    n
  }

  /**
   * Token-budgeted mixture sampling — the data-mixing step that shapes a
   * pre-training corpus to target SOURCE proportions: given per-source
   * weights (parts-per-million) and a total token budget, each source s
   * gets `target_s = budget * w_s div 1e6` tokens, and its documents are
   * accepted at rate `min(1, target_s / total_tokens_s)` by the same
   * deterministic id-hash as [[sampleByHash]] — membership is a pure
   * function of (id, salt, per-source totals), stable across runs,
   * engines, and partitionings. Sources absent from `weightsPpm` get
   * weight 0 and are dropped. All arithmetic is INTEGER (ppm rates,
   * `div`), so any engine reproduces acceptance bit-for-bit.
   *
   * Scale shape: per-source totals are ONE partial-aggregated groupBy on
   * the (dimension-sized) source key, broadcast back; acceptance is then
   * map-only over the scan. Two passes over the corpus total — the
   * minimum for any budget-normalizing sampler, since rates depend on a
   * global aggregate.
   *
   * @return input columns plus `n_tokens` and the applied `rate_ppm`
   */
  def mixtureSample(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weightsPpm: Map[String, Long], tokenBudget: Long,
      salt: String = ""): DataFrame = {
    require(weightsPpm.values.forall(w => w >= 0L && w <= 1000000L),
      "weights are parts-per-million: 0..1000000")
    require(tokenBudget >= 0L, "tokenBudget must be >= 0")
    val withTok = df.withColumn("n_tokens", tokenCountWs(col(textCol)).cast("long"))
    val totals = withTok.groupBy(col(sourceCol))
      .agg(sum(col("n_tokens")).as("__total"))
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")
    withTok.join(broadcast(totals), Seq(sourceCol))
      .withColumn("__w",
        coalesce(element_at(typedLit(weightsPpm), col(sourceCol)), lit(0L)))
      // integer div keeps the arithmetic exact at any budget (double
      // rounding would diverge from the oracle past 2^53)
      .withColumn("__target", expr(s"($tokenBudget * __w) div 1000000"))
      // a source whose documents carry ZERO tokens samples at rate 0 —
      // without the guard the div-by-zero NULL is swallowed by least()
      // (NULL-skipping in both Spark and the SQL twins), which would
      // silently accept EVERY doc of a token-less source
      .withColumn("rate_ppm",
        when(col("__total") > 0,
          least(lit(1000000L), expr("(__target * 1000000) div __total")))
          .otherwise(lit(0L)))
      .filter(h % 1000000L < col("rate_ppm"))
      .select(df.columns.map(col) :+ col("n_tokens") :+ col("rate_ppm"): _*)
  }

  /**
   * Temperature-balanced mixture weights LEARNED from the corpus — the
   * upstream of [[mixtureSample]]'s hand-set map (the multilingual /
   * multi-source rebalancing rule of Lample & Conneau 2019 §3.1 and the
   * GPT-3 data-mixing appendix): source `s` gets sampling weight
   * `p_s ∝ n_s^τ` with τ = ½, damping the head sources so low-resource
   * slices are not drowned. τ = ½ deliberately: `sqrt` is CORRECTLY
   * ROUNDED under IEEE-754 (`pow` is not), and the weights finish in
   * pure integer arithmetic — `isqrt(n_s)·10^6 div Σ isqrt(n_s)` with
   * `isqrt = floor ∘ sqrt`, exact for any `n_s` whose root stays below
   * 2^26 (10^15 tokens per source — beyond any single corpus slice) — so
   * every engine reproduces the learned weights bit-for-bit.
   *
   * Scale shape: ONE partial-aggregated groupBy on the dimension-sized
   * source key (token counts computed map-side inside the row), one
   * single-row broadcast for the normalizer. Feed the result to
   * [[mixtureSample]] (dimension-sized driver collect) to realize the
   * sample.
   *
   * @return (sourceCol, n_docs, n_tokens, weight_ppm)
   */
  def temperatureWeights(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val per = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountWs(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("__r", floor(sqrt(col("n_tokens"))).cast("long"))
    val tot = per.agg(sum("__r").as("__rt"))
    // Degenerate corpus (every source has zero tokens) gives __rt = 0;
    // the div would return NULL and downstream getLong callers would NPE,
    // so weights collapse to 0 instead — mirrored by the CASE WHEN in the
    // q121/q122 oracle twins.
    per.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        when(col("__rt") > 0, expr("(__r * 1000000) div __rt"))
          .otherwise(lit(0L)).as("weight_ppm"))
  }

  /**
   * Global window-level exact dedup (the practical stand-in for
   * substring-level dedup à la "Deduplicating Training Data Makes
   * Language Models Better" — suffix arrays don't distribute, but exact
   * dedup of fixed-size token windows catches the same cross-document
   * boilerplate): split each document into NON-overlapping
   * `windowTokens`-token windows, keep only each distinct window's FIRST
   * occurrence corpus-wide (ordered by (id, window index)), and
   * reassemble the surviving windows into the deduplicated text.
   * Documents whose every window is a repeat disappear from the output.
   *
   * Scale shape (guide §8 — decide with small rows, move big rows once):
   * the corpus text never crosses an exchange. The first-occurrence
   * decision groups on a 128-bit md5 digest of the window text — ~30 B
   * of key + (id, widx) per window instead of the window text itself
   * (the pre-r17 shape shuffled the text through BOTH its exchanges) —
   * the survivor (id, widx) pairs fold into per-doc kept-index lists
   * (both exchanges carry a few fixed-width columns per window), and one
   * id-equi-join back to the tokenized scan rebuilds the surviving text
   * map-side. The digest must be ≥128 bits: a collision here silently
   * DELETES a window (unlike the dedup candidate keys, where a collision
   * only adds a verifiable candidate), and at 10¹² windows a 60/64-bit
   * key expects thousands of collisions while 128-bit expects ~10⁻¹³.
   * Cost: the join's small side is per-doc-bounded and AQE picks its
   * strategy. The corpus is scanned and tokenized once, and the window
   * pass and the reassembly join share that scan through a
   * [[Dedup.barrier]], so never shuffling corpus bytes is paid for in
   * storage: the barrier materializes the whole corpus's token arrays, at
   * least the size of the text (token bytes plus per-token offsets),
   * held in block-manager memory and local disk while the operator runs.
   *
   * @return (id, n_kept, text_dedup)
   */
  def windowDedup(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be > 0")
    val W = windowTokens
    val toks = graft.functions.TextStatsFunctions.wsTokens(col(textCol))
    // one scan + tokenize, shared by the window pass and the reassembly
    // join (the same barrier discipline as the dedup posting frames)
    val base = Dedup.barrier(df.select(col(idCol).as("id"), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0))
    val windows = base
      .select(col("id"), col("__toks"), explode(sequence(lit(0),
        ceil(col("__n").cast("double") / W).cast("int") - 1)).as("widx"))
      .select(col("id"), col("widx"),
        unhex(md5(array_join(slice(col("__toks"), col("widx") * W + 1,
          lit(W)), " "))).as("__wkey"))
    val firstSeen = windows.groupBy("__wkey")
      .agg(min(struct(col("id"), col("widx"))).as("__keep"))
      .select(col("__keep.id").as("id"), col("__keep.widx").as("widx"))
    val keptPerDoc = firstSeen.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(col("widx"))).as("__kw"))
    base.join(keptPerDoc, Seq("id"))
      .select(col("id"), col("n_kept"),
        array_join(transform(col("__kw"),
          w => array_join(slice(col("__toks"), w * W + 1, lit(W)), " ")),
          " ").as("text_dedup"))
  }

  /**
   * Exact-substring span dedup — the stride-1 completion of
   * [[windowDedup]], after "Deduplicating Training Data Makes Language
   * Models Better" (Lee et al. 2021): every `spanTokens`-token substring
   * occurring more than once corpus-wide keeps only its FIRST occurrence
   * (ordered by (id, start position)); every other occurrence's token
   * span is cut from its document, overlapping cut spans merging into one
   * removed region. Unlike windowDedup's fixed grid, this catches
   * duplicated passages at ANY offset — the suffix-array result, reached
   * with distributable primitives (the suffix array itself does not
   * shard).
   *
   * Scale shape: three bounded shuffles. (1) The posting shuffle —
   * (span-hash int64, id, pos) per token position, the honest minimum
   * payload for substring-level dedup (Lee et al.'s suffix array is the
   * same order) — feeds ONE `row_number` window partitioned by the
   * 60-bit span hash (corpus-cardinality key, so per-partition state is
   * a handful of rows; rank>1 marks victims without the second postings
   * shuffle a keeper-join would cost, and unlike windowDedup we need the
   * victims, not just the keepers). (2) Victim starts group by id —
   * buffer bounded by document length. (3) The id-equi-join back to the
   * documents. Span merging and text reassembly are per-row array
   * kernels (sorted starts fold into disjoint intervals, so the covered
   * array is at most the document's token count).
   *
   * Hash note: spans compare by the first 60 bits of md5 of the joined
   * span text (engine-portable like the other dedup paths); a collision
   * (~n²/2⁶¹) removes a non-duplicate span.
   *
   * @return (id, n_tokens, n_removed, text_dedup) for every doc with at
   *         least one token; n_removed = 0 for docs shorter than
   *         `spanTokens` or with no repeated span; text_dedup = "" when
   *         everything was cut
   */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens > 1, "spanTokens must be > 1")
    import org.apache.spark.sql.expressions.Window
    val L = spanTokens
    val toks = graft.functions.TextStatsFunctions.wsTokens(col(textCol))
    val base = df.select(col(idCol).as("id"), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
    // Span keys via the fused kernel ([[graft.functions.TextStatsImpl
    // .spanHashes]]): same 60-bit md5-prefix value as the contract form
    // `conv(substring(md5(array_join(slice(__toks, p+1, L), ' ')), 1, 15),
    // 16, 10)` (which the oracle twins keep), but computed with ONE reused
    // digest and builder per task — the prior per-position chain allocated
    // a slice array, a joined string, a 32-char hex string, and a decimal
    // string (conv) for every token position (r16 optimization round;
    // byte-identical, differential-tested).
    val occ = base.filter(col("__n") >= L)
      .select(col("id"), explode(
        graft.functions.TextStatsFunctions.spanHashes(col("__toks"), L)).as("__s"))
      .select(col("id"), col("__s.p").as("p"), col("__s.k").as("k"))
    val victims = occ
      .withColumn("__rn", row_number().over(
        Window.partitionBy("k").orderBy(col("id"), col("p"))))
      .filter(col("__rn") > 1)
      .select("id", "p")
    // sorted span starts -> disjoint [s, e) intervals (equal-length spans:
    // sorted starts mean the running end only ever grows)
    val spans = victims.groupBy("id")
      .agg(array_sort(collect_list(col("p"))).as("__ps"))
      .withColumn("__iv", expr(
        s"""aggregate(__ps,
             named_struct('ivs', cast(array() as array<struct<s:int,e:int>>),
                          'cs', -1, 'ce', -1),
             (a, p) -> IF(a.ce < 0,
               named_struct('ivs', a.ivs, 'cs', p, 'ce', p + $L),
               IF(p <= a.ce,
                 named_struct('ivs', a.ivs, 'cs', a.cs,
                              'ce', greatest(a.ce, p + $L)),
                 named_struct(
                   'ivs', concat(a.ivs,
                     array(named_struct('s', a.cs, 'e', a.ce))),
                   'cs', p, 'ce', p + $L))),
             a -> IF(a.cs < 0, a.ivs,
               concat(a.ivs, array(named_struct('s', a.cs, 'e', a.ce)))))"""))
      .select("id", "__iv")
    base.join(spans, Seq("id"), "left")
      .withColumn("__cov", coalesce(
        expr("flatten(transform(__iv, iv -> sequence(iv.s, iv.e - 1)))"),
        expr("cast(array() as array<int>)")))
      .withColumn("__kept", expr("array_except(sequence(0, __n - 1), __cov)"))
      .select(col("id"),
        col("__n").cast("long").as("n_tokens"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(transform(col("__kept"),
          p => element_at(col("__toks"), p + 1)), " ").as("text_dedup"))
  }

  /** The 60-bit md5 shuffle key shared by the export shapers below and
    * [[sampleByHash]]/[[mixtureSample]]: a pure function of (id, salt),
    * so the training order is stable across runs, engines, partitionings,
    * and re-ingests — and a different salt is a fresh epoch permutation. */
  private def shuffleKey(idCol: String, salt: String): Column =
    conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")

  /**
   * Deterministic training-shard assignment: the "global shuffle then
   * write N shards" step every pretraining export ends with. Each doc
   * gets `shard = h mod nShards` and `pos` = its rank within the shard
   * by (h, id) — exactly the write order of that shard's file. Because
   * the permutation is the hash, NO global sort happens: one hash
   * shuffle on the shard key, then an in-shard sort, which is the
   * minimum work any sharded writer does. A writer maps this 1:1 to
   * `repartition(nShards, shard).sortWithinPartitions(h, id).write`.
   *
   * @return (id, shard, pos) — pos is 1-based within the shard
   */
  def trainingShards(df: DataFrame, idCol: String, nShards: Int,
      salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = shuffleKey(idCol, salt)
    df.select(col(idCol), (h % nShards).as("shard"), h.as("__h"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__h"), col(idCol)))
        .cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /**
   * Token-budget prefix cut: walk the corpus in deterministic-shuffle
   * order (h, id) and keep documents while the running token total stays
   * within `budget` — "give me the first N tokens of a shuffled corpus",
   * the exact-budget variant of [[mixtureSample]]'s rate sampling.
   *
   * The global running sum is computed WITHOUT a global sort: the hash
   * key is range-bucketed (`h div 2^54` → 64 buckets, monotone in h, so
   * (bucket, h, id) IS (h, id) order), per-bucket token totals are a
   * bounded aggregate whose running offsets broadcast back, and the
   * within-bucket cumulative sum is a partitioned window — the classic
   * two-pass distributed prefix sum. Each doc's `cum_tokens` is its
   * offset + in-bucket running sum, identical to the single-machine
   * cumulative sum any engine computes over the same order.
   *
   * @return (id, n_tokens, cum_tokens) for kept docs — cum_tokens ≤ budget
   */
  def tokenBudgetCut(df: DataFrame, idCol: String, textCol: String,
      budget: Long, salt: String = ""): DataFrame = {
    require(budget >= 0L, "budget must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val h = shuffleKey(idCol, salt)
    val base = df.select(col(idCol), h.as("__h"),
      (h / lit(1L << 54)).as("__bucket"),
      tokenCountWs(col(textCol)).cast("long").as("n_tokens"))
    // pass 1: bounded (≤64-row) bucket totals; their EXCLUSIVE running
    // sum is each bucket's global offset — a single-partition window
    // over a dimension-sized set
    val offsets = base.groupBy("__bucket")
      .agg(sum("n_tokens").as("__btot"))
      .withColumn("__offset",
        coalesce(sum("__btot").over(
          Window.orderBy("__bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__offset")
    // pass 2: in-bucket running sum + broadcast offset = global prefix
    base.join(broadcast(offsets), Seq("__bucket"))
      .withColumn("cum_tokens", col("__offset") + sum("n_tokens").over(
        Window.partitionBy("__bucket").orderBy(col("__h"), col(idCol))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /**
   * Training sequence packing (the GPT-style dataloader layout): per
   * hash-shard, documents concatenate in deterministic id order into one
   * token stream chopped every `seqTokens` tokens — each document gets
   * its byte-offset-equivalent in tokens and the range of fixed-length
   * training sequences it lands in (documents crossing a boundary span
   * several, exactly as a pre-training dataloader packs them). The
   * assignment a packing job materializes before writing shards.
   *
   * Determinism: shard = md5-hash of the id, order within a shard =
   * id — any engine reproduces the identical layout.
   *
   * Scale: ONE window per shard (`partitionBy(pack_shard)` cumulative
   * sum) — parallelism is the shard count and no corpus-wide sort or
   * single-partition pass exists. Token counts are the whitespace
   * tokenizer's ([[tokenCountWs]]), computed in-row.
   *
   * @return (id, pack_shard, n_tokens, start_off, seq_first, seq_last)
   */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqTokens: Int, shards: Int = 64): DataFrame = {
    require(seqTokens >= 1 && shards >= 1, "seqTokens and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val shard = (conv(substring(md5(col(idCol).cast("string")), 1, 15),
      16, 10).cast("long") % shards)
    val w = Window.partitionBy(col("pack_shard")).orderBy(col(idCol))
    df.select(col(idCol), shard.as("pack_shard"),
        tokenCountWs(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_off", sum("n_tokens").over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .select(col(idCol), col("pack_shard"), col("n_tokens"), col("start_off"),
        expr(s"start_off DIV $seqTokens").as("seq_first"),
        expr(s"(end_off - 1) DIV $seqTokens").as("seq_last"))
  }
}
