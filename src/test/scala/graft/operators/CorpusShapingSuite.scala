package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Corpus-shaping operators of the training-data pipeline: overlapping
 * token-window chunking, deterministic hash sampling, PII scrubbing
 * (SURVEY.md §2.8 north-star extensions — no reference counterpart; these
 * are the pre-training steps the engine adds beyond BanyanDB's surface).
 */
class CorpusShapingSuite extends SparkSpec {

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("chunk: short doc yields one chunk, long doc slides with overlap") {
    val docs = docsOf(Seq(
      1L -> "a b c",                                     // 3 toks, 1 chunk
      2L -> (1 to 20).map(i => s"t$i").mkString(" "),    // 20 toks
      3L -> "",                                          // no tokens: dropped
      4L -> (1 to 16).map(i => s"u$i").mkString(" ")))   // exactly one window
    val got = TextAnalysis.chunk(docs, "doc_id", "text", chunkSize = 16, stride = 8)
      .orderBy("doc_id", "chunk_idx").collect()

    val byDoc = got.groupBy(_.getLong(0))
    assert(byDoc(1L).length == 1 && byDoc(1L).head.getString(2) == "a b c"
      && byDoc(1L).head.getInt(3) == 3)
    // 20 tokens, size 16, stride 8 → ceil((20-16)/8)+1 = 2 chunks
    assert(byDoc(2L).length == 2)
    assert(byDoc(2L)(0).getString(2) == (1 to 16).map(i => s"t$i").mkString(" "))
    // second window starts at token 9, clamped to the tail (12 tokens)
    assert(byDoc(2L)(1).getString(2) == (9 to 20).map(i => s"t$i").mkString(" "))
    assert(byDoc(2L)(1).getInt(3) == 12)
    assert(!byDoc.contains(3L))
    assert(byDoc(4L).length == 1 && byDoc(4L).head.getInt(3) == 16)
    // every token of doc 2 lands in at least one chunk
    val covered = byDoc(2L).flatMap(_.getString(2).split(" ")).toSet
    assert(covered == (1 to 20).map(i => s"t$i").toSet)
  }

  test("chunk: stride must not exceed chunkSize") {
    intercept[IllegalArgumentException] {
      TextAnalysis.chunk(docsOf(Seq(1L -> "a")), "doc_id", "text",
        chunkSize = 4, stride = 5)
    }
  }

  test("sampleByHash: deterministic, disjoint rates nest, salts differ") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("doc_id")
    val p10 = TextAnalysis.sampleByHash(ids, "doc_id", 10)
      .collect().map(_.getLong(0)).toSet
    val p10b = TextAnalysis.sampleByHash(ids, "doc_id", 10)
      .collect().map(_.getLong(0)).toSet
    val p50 = TextAnalysis.sampleByHash(ids, "doc_id", 50)
      .collect().map(_.getLong(0)).toSet
    assert(p10 == p10b)                 // pure function of the id
    assert(p10.subsetOf(p50))           // rates nest: pct<10 ⊂ pct<50
    assert(p10.size > 100 && p10.size < 300)  // ≈10% of 2000
    val salted = TextAnalysis.sampleByHash(ids, "doc_id", 10, salt = "v2")
      .collect().map(_.getLong(0)).toSet
    assert(salted != p10)               // independent slice per salt
    // matches a by-hand md5 recomputation (the oracle's arithmetic)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = java.lang.Long.parseLong(h.take(15), 16) % 100 < 10
    assert(p10.contains(7L) == want)
  }

  /** run `body` with the distributed label-propagation path forced. */
  private def forceDistributed[T](body: => T): T = {
    spark.conf.set("spark.graft.dedup.clusters.driverMaxEdges", "0")
    try body
    finally spark.conf.unset("spark.graft.dedup.clusters.driverMaxEdges")
  }

  test("dedupClusters: transitive components labeled by minimum member (both paths)") {
    import spark.implicits._
    // chain 1-2-3, pair (10,11), triangle 20-21-22, singleton edge (30,31)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L), (30L, 31L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L)
    // default: driver union-find fast path (the pair list is tiny)
    val fast = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == want)
    // forced distributed label propagation must agree exactly
    val dist = forceDistributed(Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(dist == want)
    // a long chain still converges (diameter > 2 propagation)
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labs = forceDistributed(
      Dedup.dedupClusters(chain).collect().map(_.getLong(1)).distinct)
    assert(labs.toSeq == Seq(1L))
    // string ids: min label under unsigned UTF-8 byte order on both paths
    val sPairs = Seq(("b", "a"), ("a", "c"), ("x", "y")).toDF("id_a", "id_b")
    val sWant = Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
    assert(Dedup.dedupClusters(sPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == sWant)
    assert(forceDistributed(Dedup.dedupClusters(sPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap) == sWant)
  }

  test("dedupClusters: small pair lists stay off the iterative path (job budget)") {
    // a dimension-table-sized pair list must resolve with a handful of
    // jobs (one barrier + probe + collect + parallelize) — not 20+ rapid
    // barrier rounds whose driver churn degrades neighboring queries
    // (r6 bench: q65 at 28-59s full-surface vs 8s isolated). The
    // distributed path stays for graphs past driverMaxEdges.
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    import spark.implicits._
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.sparkContext.addSparkListener(listener)
    try {
      val labs = Dedup.dedupClusters(chain).collect().map(_.getLong(1)).distinct
      assert(labs.toSeq == Seq(1L))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(counter.get() <= 6, s"jobs launched: ${counter.get()}")
  }

  test("dedupClusters: owned round blocks freed on the non-convergence throw") {
    import spark.implicits._
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    forceDistributed {
      intercept[IllegalStateException](Dedup.dedupClusters(chain, maxIters = 1))
    }
    val lingering = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the ContextCleaner-scoped barrier() pair list may linger until GC;
    // every OWNED round frame (e / half / next) must be freed by the
    // failure path — CacheManager-held blocks would otherwise pin
    // multi-million-edge lists for the application's lifetime
    assert(lingering.size <= 1, s"owned blocks leaked: $lingering")
  }

  test("scrubPii: redacts emails, IPs, long digit runs; counts match") {
    val docs = docsOf(Seq(
      1L -> "contact bob.smith+x@example.co.uk or 10.0.0.1 ref 1234567890",
      2L -> "clean text with short 123 and 12.5 numbers"))
    val out = docs.select(col("doc_id"),
      TextAnalysis.scrubPii(col("text")).as("t"),
      TextAnalysis.piiCount(col("text")).as("n"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "contact <EMAIL> or <IP> ref <ID>")
    assert(out(0).getInt(2) == 3)
    assert(out(1).getString(1) == "clean text with short 123 and 12.5 numbers")
    assert(out(1).getInt(2) == 0)
  }

  test("repetitionSignals: duplicate n-gram fractions per hand-computed model") {
    val docs = docsOf(Seq(
      1L -> "spam spam spam spam",          // 4 words 1 distinct; 3 bigrams 1 distinct
      2L -> "all words here are unique",    // no repetition anywhere
      3L -> "a b a b a b",                  // words 2/6 distinct; bigrams: ab,ba,ab,ba,ab
      4L -> "",                             // empty → all zero
      5L -> "one"))                         // single word → gram fracs zero
    val got = TextAnalysis.repetitionSignals(docs, col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got(0) == ((1L, 0.75, 0.666667, 0.5)))  // fracs round to 6 places
    assert(got(1) == ((2L, 0.0, 0.0, 0.0)))
    assert(got(2) == ((3L, 0.666667, 0.6, 0.5)))
    assert(got(3) == ((4L, 0.0, 0.0, 0.0)))
    assert(got(4) == ((5L, 0.0, 0.0, 0.0)))
  }

  test("piiCount equals the redactions scrub performs on overlapping spans") {
    // the IP inside the email local-part is redacted ONCE, as the email
    val docs = docsOf(Seq(1L -> "reach me at 1.2.3.4@mail.co"))
    val out = docs.select(
      TextAnalysis.scrubPii(col("text")).as("t"),
      TextAnalysis.piiCount(col("text")).as("n")).head()
    assert(out.getString(0) == "reach me at <EMAIL>")
    assert(out.getInt(1) == 1)
  }

  test("clusterSurvivors: longest doc wins per cluster, ties to lowest id, rest pass through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", 10L), (2L, "s", 30L), (3L, "s", 20L),  // cluster {1,2,3}: 2 wins
      (4L, "s", 99L),                                  // unclustered
      (5L, "s", 7L), (6L, "s", 7L))                    // tie on length: 5 wins
      .toDF("doc_id", "source", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.clusterSurvivors(docs, pairs, "doc_id", "n_chars")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set((2L, 1L), (4L, -1L), (5L, 5L)))
  }

  test("incrementalNew: batch rows with a canonical-fingerprint match in the corpus drop") {
    import spark.implicits._
    val corpus = Seq((1L, "Hello, World!"), (2L, "other doc here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "hello   world"),   // fingerprint-equal to corpus doc 1 → drops
      (11L, "genuinely new text"),
      (12L, "OTHER doc; here")) // fingerprint-equal to corpus doc 2 → drops
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNew(batch, "text", corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L))
  }

  test("crossNearDupMatches: exact Jaccard vs hand model; corpus df cap prunes boilerplate") {
    import spark.implicits._
    // w=2 shingles. batch 10: {a b, b c, c d}; corpus 1: {a b, b c, c x}
    // inter=2, union=4 → J=0.5. corpus 2 shares nothing with batch 10.
    val corpus = Seq((1L, "a b c x"), (2L, "p q r s"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d"), (11L, "z z2 z3")).toDF("doc_id", "text")
    val got = Dedup.crossNearDupMatches(batch, "doc_id", "text",
      corpus, "doc_id", "text", w = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((10L, 1L, 0.5)))

    // df cap over the CORPUS side: 'a b' occurs in BOTH corpus docs; with
    // maxCorpusDocFreq = 1 it generates no candidates and the match dies
    val corpus2 = Seq((1L, "a b c x"), (2L, "a b y z")).toDF("doc_id", "text")
    val capped = Dedup.crossNearDupMatches(
      Seq((10L, "a b q")).toDF("doc_id", "text"), "doc_id", "text",
      corpus2, "doc_id", "text", w = 2, threshold = 0.1, maxCorpusDocFreq = 1)
    assert(capped.isEmpty)
  }

  test("mixtureSample: integer-ppm rates from per-source totals; membership is the id hash") {
    import spark.implicits._
    // srcA: 3 docs × 10 tokens = 30 total; weight 500000 ppm of budget 40
    //   → target 20 → rate 666666 ppm
    // srcB: 2 docs × 5 tokens = 10 total; weight 500000 → target 20 ≥ 10
    //   → rate clamps to 1000000: EVERY srcB doc survives
    // srcC: weight absent → rate 0: no srcC doc survives
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val five = (1 to 5).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, "srcA", ten), (2L, "srcA", ten), (3L, "srcA", ten),
      (4L, "srcB", five), (5L, "srcB", five),
      (6L, "srcC", ten),
      // a weighted source whose docs carry ZERO tokens: its per-source
      // total is 0, and the rate must clamp to 0 (not slip to 1000000
      // through a NULL-skipping least over the div-by-zero)
      (7L, "srcD", ""), (8L, "srcD", "   ")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.mixtureSample(docs, "doc_id", "text", "source",
      weightsPpm = Map("srcA" -> 500000L, "srcB" -> 400000L, "srcD" -> 100000L),
      tokenBudget = 40L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    val bySrc = got.groupBy(_._2)
    assert(!bySrc.contains("srcD"), bySrc)
    assert(bySrc("srcB").map(_._1).toSet == Set(4L, 5L))
    assert(bySrc("srcB").forall(_._4 == 1000000L))
    assert(!bySrc.contains("srcC"))
    assert(bySrc.getOrElse("srcA", Array.empty).forall(_._4 == 666666L))
    // srcA membership: md5(id) first-15-hex mod 1e6 < 666666, recomputed here
    val md = java.security.MessageDigest.getInstance("MD5")
    def accepted(id: Long): Boolean = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 1000000L < 666666L
    }
    val expectA = Seq(1L, 2L, 3L).filter(accepted).toSet
    assert(bySrc.getOrElse("srcA", Array.empty).map(_._1).toSet == expectA)
    // rerun is bit-identical (pure function of id + totals)
    val again = TextAnalysis.mixtureSample(docs, "doc_id", "text", "source",
      weightsPpm = Map("srcA" -> 500000L, "srcB" -> 400000L, "srcD" -> 100000L),
      tokenBudget = 40L)
      .collect().map(r => r.getLong(0)).toSet
    assert(again == got.map(_._1).toSet)
  }

  test("temperatureWeights: p_s ∝ √n_s in exact integer ppm; head source damped") {
    import spark.implicits._
    // srcA: 4 docs × 9 tokens = 36 → isqrt 6; srcB: 1 doc × 4 = 4 → isqrt 2
    // raw token share A:B = 90%:10%; τ=½ share = 6/8 : 2/8 = 75%:25% —
    // the damping is the point
    val nine = (1 to 9).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "srcA", nine), (2L, "srcA", nine), (3L, "srcA", nine),
      (4L, "srcA", nine), (5L, "srcB", "a b c d")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.temperatureWeights(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("srcA") == ((4L, 36L, 750000L)), got)
    assert(got("srcB") == ((1L, 4L, 250000L)), got)
    // the learned map drives the sampler (the q122 composition)
    val sampled = TextAnalysis.mixtureSample(docs, "doc_id", "text", "source",
      weightsPpm = got.map { case (k, v) => k -> v._3 }, tokenBudget = 8L)
      .collect().map(r => (r.getString(1), r.getLong(4)))
    // srcB: target 8·0.25=2 tokens of 4 → rate 500000; srcA: 8·0.75=6 of
    // 36 → rate 166666
    assert(sampled.forall { case (s2, r) =>
      if (s2 == "srcA") r == 166666L else r == 500000L }, sampled.toSeq)
  }

  test("windowDedup: first corpus-wide occurrence survives, docs reassemble in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),   // windows(2): [a b][c d][e f]
      (2L, "c d x y a b"),   // [c d] and [a b] repeat doc 1 → keeps [x y]
      (3L, "a b c d"),       // entirely duplicate → disappears
      (4L, "e f e f g"))     // [e f] repeats doc 1; within-doc repeat too → keeps [g]
      .toDF("doc_id", "text")
    val byId = TextAnalysis.windowDedup(docs, "doc_id", "text", windowTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(byId == Map(
      1L -> ((3L, "a b c d e f")),
      2L -> ((1L, "x y")),
      4L -> ((1L, "g"))))
  }

  test("spanDedup: cross-doc and within-doc spans cut, overlaps merge, short docs pass") {
    val docs = docsOf(Seq(
      1L -> "a b c d e f",       // first occurrence of every span it has
      2L -> "x y a b c d z w",   // contains doc 1's [a b c d] at offset 2 → cut
      3L -> "p q r",             // shorter than L=4 → untouched
      4L -> "m n o p q m n o p q")) // within-doc repeat at offset 5 → cut
    val got = TextAnalysis.spanDedup(docs, "doc_id", "text", spanTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((6L, 0L, "a b c d e f")))
    assert(got(2L) == ((8L, 4L, "x y z w")))
    assert(got(3L) == ((3L, 0L, "p q r")))
    // doc 4: victims are starts 5,6 (repeats of its own spans at 0,1) →
    // the two overlapping cut spans merge into covered [5,10)
    assert(got(4L) == ((10L, 5L, "m n o p q")))
  }

  test("spanDedup: equals the brute-force spec on the sf0.001 corpus") {
    val L = 16
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextAnalysis.spanDedup(docs, "doc_id", "text", spanTokens = L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val toks = raw.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toVector }.filter(_._2.nonEmpty)
    val first = scala.collection.mutable.Map[String, (Long, Int)]()
    for ((id, tv) <- toks; p <- 0 to tv.length - L) {
      val s = tv.slice(p, p + L).mkString(" ")
      if (!first.contains(s)) first(s) = (id, p)
    }
    val expect = toks.map { case (id, tv) =>
      val covered = scala.collection.mutable.Set[Int]()
      for (p <- 0 to tv.length - L) {
        val s = tv.slice(p, p + L).mkString(" ")
        if (first(s) != ((id, p))) covered ++= (p until p + L)
      }
      val kept = tv.indices.filterNot(covered)
      id -> ((tv.length.toLong, covered.size.toLong,
        kept.map(tv).mkString(" ")))
    }.toMap
    assert(got == expect)
    // and the corpus actually exercises the operator
    assert(got.values.exists(_._2 > 0L))
  }

  test("winnowFingerprints: shared long substring guarantees a shared hash; edges") {
    val shared = "zq wv xk pj rt ln md fh"           // 23 canonical chars >> w+k-1
    val docs = docsOf(Seq(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"one two three $shared four five six",
      3L -> "completely different words entirely here now",
      4L -> "tiny",                                   // canon len 4 < k → no rows
      5L -> "exactly sixteench"))                     // canon len 17 → 2 grams < w → 1 fp
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 16, w = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: a shared canonical substring of >= w+k-1 = 23
    // chars forces at least one common selected hash
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert(!byDoc.contains(4L))
    assert(byDoc(5L).size == 1)
    // fingerprint rows are distinct per doc
    assert(fps.length == fps.distinct.length)
    // density: the selection keeps roughly 2/(w+1) of gram positions —
    // doc 3 has 46 canonical chars → 31 grams, expect far fewer fps
    assert(byDoc(3L).size < 31 && byDoc(3L).nonEmpty)
  }

  test("winnowFingerprints: native kernel byte-identical to the composable SQL form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 16, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val composable = TextAnalysis
      .winnowFingerprintsComposable(docs, "doc_id", "text", k = 16, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(native.nonEmpty && native.sameElements(composable))
    // also at a window size that exercises the m < w degeneration
    val tiny = docsOf(Seq(1L -> "seventeen chars ab", 2L -> "abcdefghijklmnop"))
    val n2 = TextAnalysis.winnowFingerprints(tiny, "doc_id", "text", k = 16, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val c2 = TextAnalysis.winnowFingerprintsComposable(tiny, "doc_id", "text", k = 16, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(n2.sameElements(c2) && n2.length == 2)
  }

  test("winnowingPairs: planted near-dup pair found, unrelated docs silent") {
    val boiler = (1 to 30).map(i => s"wq$i xv$i").mkString(" ")
    val docs = docsOf(Seq(
      1L -> s"$boiler unique tail of document one",
      2L -> s"$boiler another distinct ending here",
      3L -> "no overlap with anything else at all",
      4L -> "fully separate content again completely"))
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text",
      k = 16, w = 8, threshold = 0.25, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 >= 3L)
    // the shared boiler dominates both docs → high normalized similarity
    assert(pairs.head._4 >= 0.25 && pairs.head._4 <= 1.0)
  }

  /** The winnow pair join without barriers or size-derived repartitioning
    * (explode → df cap → full posting self-join → count → normalize): the
    * differential oracle for [[Dedup.winnowingPairs]]. */
  private def naiveWinnowPairs(docs: org.apache.spark.sql.DataFrame,
      threshold: Double, minShared: Int, maxDocFreq: Int): Set[(Long, Long, Long, Double)] = {
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 16, 8)
      .select(col("doc_id").as("id"), col("fingerprint").as("fp"))
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("set_size"))
    val filtered = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df_"))
        .filter(col("df_") <= maxDocFreq && col("df_") >= 2).select("fp"),
      Seq("fp"))
    filtered.select(col("fp"), col("id").as("id_a"))
      .join(filtered.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("set_size", "size_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("set_size", "size_b"), Seq("id_b"))
      .withColumn("__sim", col("n_shared").cast("double") /
        (col("size_a") + col("size_b") - col("n_shared")))
      .filter(col("__sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("__sim"), 6).as("winnow_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
  }

  test("winnowingPairs equals the naive pairs (seeded corpora × params)") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "theta", "kappa", "lambda", "sigma", "omega", "quartz", "nebula",
      "raven", "cobalt", "ember")
    for (seed <- Seq(101, 202, 303)) {
      val rnd = new scala.util.Random(seed)
      // hot boilerplate shared by MANY docs (drives posting df toward and
      // past the cap), near-dup clusters from small perturbations,
      // singletons, and sub-window docs
      val boiler = (1 to 12).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      val base = (0 until 8).map(_ =>
        (1 to 20).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
      var id = 0L
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      base.foreach { b =>
        val copies = 1 + rnd.nextInt(5)
        (0 until copies).foreach { _ =>
          id += 1
          val perturbed = if (rnd.nextBoolean()) b
            else b + " " + words(rnd.nextInt(words.size))
          rows += ((id, s"$boiler $perturbed"))
        }
      }
      (0 until 6).foreach { _ =>
        id += 1
        rows += ((id, (1 to 15).map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
      }
      id += 1; rows += ((id, "tiny")) // below k+w-1 chars: empty fp set
      val docs = docsOf(rnd.shuffle(rows.toSeq))
      for ((t, ms, cap) <- Seq((0.25, 3, 128), (0.15, 1, 8), (0.5, 2, 4),
          (0.05, 1, 128), (0.9, 1, 64))) {
        val want = naiveWinnowPairs(docs, t, ms, cap)
        val got = Dedup.winnowingPairs(docs, "doc_id", "text",
          k = 16, w = 8, threshold = t, minShared = ms, maxDocFreq = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
        assert(got == want,
          s"seed $seed t=$t minShared=$ms cap=$cap: " +
            s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      }
    }
  }

  test("qualityModelScore: exact integer logit, threshold cut matches by hand") {
    // one token "the": n_tokens=1, mean_token_len=3, punct_ratio=0,
    // stopword_ratio=1 → z = -2 + 4·1 + 0.25·3 + (-3)·0 + 0.01·1 = 2.76
    val docs = docsOf(Seq(1L -> "the", 2L -> "!!!!"))
    val got = TextAnalysis.qualityModelScore(docs, "doc_id", col("text"),
      weights = Seq("stopword_ratio" -> 4.0, "mean_token_len" -> 0.25,
        "punct_ratio" -> -3.0, "n_tokens" -> 0.01),
      bias = -2.0, threshold = 0.5)
      .select("doc_id", "logit_micros", "keep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == ((2760000L, true)), s"got ${got(1L)}")
    // all-punct doc: no tokens, punct_ratio 1 → z = -2 - 3 = -5 → dropped
    assert(got(2L) == ((-5000000L, false)), s"got ${got(2L)}")
  }

  test("domainCap keeps exactly cap docs per domain, deterministically") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"dom${i % 4}")).toDF("doc_id", "source")
    val got = TextAnalysis.domainCap(docs, "doc_id", "source", cap = 3)
    val byDom = got.collect().groupBy(_.getString(1))
    assert(byDom.size == 4 && byDom.values.forall(_.length == 3))
    assert(got.collect().forall(_.getInt(2) <= 3))
    // rerun selects the SAME documents (md5 rank, no RNG)
    val again = TextAnalysis.domainCap(docs, "doc_id", "source", cap = 3)
    assert(got.collect().map(_.getLong(0)).toSet ==
      again.collect().map(_.getLong(0)).toSet)
    // a different salt rotates the per-domain selection
    val salted = TextAnalysis.domainCap(docs, "doc_id", "source", cap = 3, salt = "s1")
    assert(salted.collect().map(_.getLong(0)).toSet !=
      got.collect().map(_.getLong(0)).toSet)
  }

  test("packSequences: offsets and sequence ranges match hand packing per shard") {
    val docs = docsOf(Seq(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "),  // 10 tokens
      2L -> (1 to 7).map(i => s"u$i").mkString(" "),   // 7 tokens
      3L -> "",                                        // dropped (0 tokens)
      4L -> (1 to 20).map(i => s"v$i").mkString(" ")))  // 20 tokens
    val got = TextAnalysis.packSequences(docs, "doc_id", "text",
      seqTokens = 8, shards = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // one shard, id order: doc1 [0,10) seqs 0..1, doc2 [10,17) seqs 1..2,
    // doc4 [17,37) seqs 2..4; doc3 absent
    assert(got.toSeq == Seq(
      (1L, 10L, 0L, 0L, 1L),
      (2L, 7L, 10L, 1L, 2L),
      (4L, 20L, 17L, 2L, 4L)), got.toSeq)
    // invariant at any shard count: per shard, offsets tile the stream
    // exactly (no gaps, no overlaps) and sequence ranges cover them
    val sharded = TextAnalysis.packSequences(docs, "doc_id", "text",
      seqTokens = 8, shards = 4).collect()
    sharded.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      sorted.foldLeft(0L) { (expect, r) =>
        assert(r.getLong(3) == expect, "offset gap/overlap in a shard")
        assert(r.getLong(4) == r.getLong(3) / 8 &&
          r.getLong(5) == (r.getLong(3) + r.getLong(2) - 1) / 8)
        r.getLong(3) + r.getLong(2)
      }
    }
  }

  test("leakageSafeSplit: near-dup clusters never straddle a split; " +
      "singletons degrade to the plain hash split") {
    import spark.implicits._
    // two planted near-dup pairs + singletons
    val pairs = Seq((1L, 2L), (5L, 9L)).toDF("id_a", "id_b")
    val docs = (1L to 20L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val got = Dedup.leakageSafeSplit(docs, "doc_id", pairs,
      valPpm = 300000L, testPpm = 300000L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got.size == 20)
    // cluster members share key AND split
    assert(got(1L) == got(2L) && got(5L) == got(9L))
    assert(got(1L)._1 == "1" && got(5L)._1 == "5", "cluster key is the min id")
    // a singleton keys on its own id
    assert(got(3L)._1 == "3")
    // deterministic: rerun identical; salt rotates assignments
    val again = Dedup.leakageSafeSplit(docs, "doc_id", pairs, 300000L, 300000L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.map { case (k, v) => k -> v._2 } == again)
    val salted = Dedup.leakageSafeSplit(docs, "doc_id", pairs, 300000L, 300000L,
      salt = "s1").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(salted != again, "salt must rotate the split")
    // all three splits present at these rates over 19 keys w.h.p.
    assert(got.values.map(_._2).toSet == Set("train", "validation", "test"))
  }

  test("contaminationFraction: exact ppm for a hand-built overlap") {
    // bench doc = "a b c d"; its 3-shingles: {a b c, b c d}
    // doc 10 = "a b c d e" → shingles {a b c, b c d, c d e}: 2/3 shared
    // doc 11 = "x y z w"   → shingles {x y z, y z w}: 0/2 shared
    val all = docsOf(Seq(1L -> "a b c d", 10L -> "a b c d e", 11L -> "x y z w"))
    val got = Dedup.contaminationFraction(
      all.filter(col("doc_id") >= 10), "doc_id", "text",
      all.filter(col("doc_id") < 10), "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((10L, 3L, 2L, 666666L), (11L, 2L, 0L, 0L)), s"got $got")
  }
}
