package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal (image/audio/video) column plumbing (north-star extension).
 * Media payloads are opaque `binary` columns travelling next to typed
 * metadata; decode/feature steps run per-partition so one task amortizes
 * decoder init over a whole batch of blobs — the Spark-side contract
 * (schema, partitioning, batch shape) is real, while the actual codec call
 * is STUBBED as a deterministic fake (media libraries are not in this
 * container).
 */
object Multimodal {

  /** Typed media row: payload + metadata. */
  final case class MediaBlob(media_id: Long, kind: String, payload: Array[Byte])
  /** Decoded-media features (fake values derived from the payload). */
  final case class MediaFeatures(media_id: Long, kind: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int, payload_md5: String)

  /**
   * STUB decoder =========================================================
   * A real implementation would call an image/audio codec here (e.g.
   * JavaCV / TwelveMonkeys) on `payload`. Deterministic fake: dimensions
   * and frame count are pure functions of the payload size, plus an md5 of
   * the bytes proving the payload itself travelled intact — so tests and
   * the DuckDB oracle verify the plumbing end-to-end.
   */
  private def fakeDecode(b: MediaBlob, md: java.security.MessageDigest): MediaFeatures = {
    val len = b.payload.length
    md.reset()
    val hex = md.digest(b.payload).map("%02x".format(_)).mkString
    MediaFeatures(b.media_id, b.kind, len,
      width = 64 + (len * 31) % 1024,
      height = 64 + (len * 17) % 1024,
      n_frames = if (b.kind == "video") 1 + len % 240 else 1,
      payload_md5 = hex)
  }

  /**
   * Decode/feature-extract over a binary column. `mapPartitions` (not
   * `map`) so decoder init happens once per partition — the Scala analogue
   * of `mapInPandas` batch amortization.
   */
  def decodeFeatures(blobs: Dataset[MediaBlob])(implicit spark: SparkSession)
      : Dataset[MediaFeatures] = {
    import spark.implicits._
    blobs.mapPartitions { it =>
      // decoder state initialized once per partition (the point of
      // mapPartitions over map — amortized across the whole batch)
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map(b => fakeDecode(b, md))
    }
  }

  /** Frame-sampling plan for video blobs: every `stride`-th frame index up
    * to the decoded frame count — the downstream extraction work list. */
  def sampleFrames(features: Dataset[MediaFeatures], stride: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    features.filter(_.kind == "video").toDF()
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select("media_id", "frame_idx")
  }

  /**
   * STUB feature embedding: a real pipeline would run a vision/audio
   * encoder over the decoded media; the deterministic fake derives a
   * 16-dim vector from the payload md5 (byte d of the digest → dimension
   * d), so the downstream ANN stage — schema, partitioning, join shape —
   * runs for real and an external oracle can recompute every value.
   */
  def fakeEmbedding(features: Dataset[MediaFeatures])(
      implicit spark: SparkSession): DataFrame =
    features.toDF().select(col("media_id"),
      transform(sequence(lit(0), lit(15)),
        d => conv(substring(col("payload_md5"), d * 2 + 1, lit(2)), 16, 10)
          .cast("double")).as("emb"))

  /** Build a MediaBlob dataset from any table with a text column, treating
    * the UTF-8 bytes as the opaque payload (the testdata has no real media;
    * the pipeline shape is identical). */
  def blobsFromText(df: DataFrame, idCol: String, textCol: String)(
      implicit spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        when(col(idCol) % 3 === 0, lit("image"))
          .when(col(idCol) % 3 === 1, lit("audio")).otherwise(lit("video")).as("kind"),
        encode(col(textCol), "UTF-8").as("payload"))
      .as[MediaBlob]
  }

  /** Exact BINARY dedup over the opaque payloads — the byte-identical
    * media counterpart of [[Dedup.exact]]'s text dedup (re-crawled or
    * re-encoded-identically assets): group on md5 of the payload bytes
    * within each media kind, keep the min id as the survivor. Hash
    * groupBy with map-side combine — the payload bytes never shuffle,
    * only their 16-byte digests. */
  def exactBinaryDedup(blobs: Dataset[MediaBlob]): DataFrame =
    blobs.toDF()
      .groupBy(col("kind"), md5(col("payload")).as("payload_md5"))
      .agg(min(col("media_id")).as("keep_id"),
        count(lit(1)).as("dup_count"))

  /** [[blobsFromText]] plus deterministic "re-encoded" variants of every
    * `everyK`-th asset — the payload with a 2-byte encoder tail appended
    * (id offset 3 000 000 000, divisible by 3 so the kind assignment is
    * preserved). The test adapter for [[perceptualNearDupPairs]]: these
    * byte-perturbed twins are exactly what [[exactBinaryDedup]] MISSES
    * (different digests) and a perceptual signature must catch. */
  def blobsWithReencodes(df: DataFrame, idCol: String, textCol: String,
      everyK: Int = 5)(implicit spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    val variants = df.filter(col(idCol) % everyK === 0)
      .withColumn(textCol, concat(col(textCol), lit(" .")))
      .withColumn(idCol, col(idCol) + lit(3000000000L))
    blobsFromText(df.select(col(idCol).cast("long"), col(textCol))
      .unionByName(variants.select(col(idCol).cast("long"), col(textCol))),
      idCol, textCol)
  }

  /**
   * Perceptual signature per asset: 60-bit SimHash over the byte-4-gram
   * stream of the payload ([[graft.functions.SketchImpl
   * .byteGramSimhash60]]) — position-independent, so trims/appends/
   * localized re-encode artifacts move only the grams they touch and
   * near-identical payloads land within a few Hamming bits (a fixed-grid
   * chunk hash fails this: ANY length change shifts every bucket
   * boundary). STUB BOUNDARY: a real deployment computes this same
   * signature over the DECODED byte grid (luma plane / PCM frames) so
   * codec-level re-encodes converge too; in this container the kernel
   * runs on the payload bytes and the downstream plumbing — banded join,
   * popcount verify — is identical and real.
   */
  def perceptualSignature(blobs: Dataset[MediaBlob]): DataFrame =
    blobs.toDF().select(col("media_id"), col("kind"),
      graft.functions.SketchFunctions.byteGramSimhash60(col("payload"), 4)
        .as("sig"))

  /** The ONE materialized pass over the decoded assets every perceptual
    * consumer shares: `(media_id, kind, byte_len, sig)`. Signature AND
    * fidelity metadata come out of a single payload scan, barriered so
    * q116's cluster side never re-decodes or re-signs the corpus (the
    * r12 sf5 profile: the unshared second pass was 2/3 of q116's wall). */
  private def sigMeta(blobs: Dataset[MediaBlob]): DataFrame =
    graft.operators.Dedup.barrier(blobs.toDF().select(
      col("media_id"), col("kind"),
      length(col("payload")).cast("long").as("byte_len"),
      graft.functions.SketchFunctions.byteGramSimhash60(col("payload"), 4)
        .as("sig")))

  /**
   * Perceptual NEAR-dup pairs over media payloads — the non-exact
   * counterpart of [[exactBinaryDedup]] (re-encoded / trimmed assets):
   * pairs of same-kind assets whose perceptual signatures are within
   * `maxDist` Hamming bits, with EXACT recall by block-subset banding
   * (the Manku/Jain/Sarma simhash-dedup table scheme, WWW'07): the
   * 60-bit signature splits into blocks and every
   * `blocks − maxDist`-subset becomes one bucket table (keys are the
   * concatenated intact blocks). ≤ maxDist flips touch at most maxDist
   * blocks, so some subset survives untouched — by pigeonhole the
   * bucket tables are a COMPLETE candidate set. Geometry is the
   * measured [[byteStreamBlocks]] = 5×12-bit choice (maxDist ≤ 4): the
   * r11 single-block 15-bit bands drowned in birthday noise
   * (candidates grow n²/2^keybits per table), the r12 6×10 scheme
   * over-corrected into bucket-table volume (20 tables); 10 tables of
   * 24-bit keys sit at the measured optimum for this signature's
   * distinct-count regime. Singleton buckets are pruned before the
   * self-join and candidates verify by popcount — payload bytes never
   * shuffle, only 8-byte signatures.
   *
   * Accepted `maxDist` domain is [1, 4] (the 6→5 block change narrowed
   * it from [1, 5]), and maxDist = 4 is a PERFORMANCE CLIFF: keep =
   * 5 − 4 = 1 leaves single-block 12-bit bucket keys — exactly the
   * birthday-noise regime the r11 postmortem documents (candidates grow
   * n²/2^12 per table). Use maxDist ≤ 3 at scale, or the decoded-plane
   * path (whose 4×16 geometry keeps 32-bit keys at maxDist 2) when a
   * wider radius matters.
   */
  def perceptualNearDupPairs(blobs: Dataset[MediaBlob], maxDist: Int = 3)
      : DataFrame =
    pairsFromSigs(sigMeta(blobs), maxDist)

  /** The exploded (idCol, kind, block, bkey) bucket-table rows of
    * [[bandedCandidates]] — split out so the Scratch skew/ablation arms
    * measure the EXACT production bucket arithmetic. */
  private[graft] def bandedBlocks(rows: DataFrame, idCol: String,
      blockCount: Int, keepBlocks: Int, totalBits: Int = 60): DataFrame = {
    require(totalBits % blockCount == 0 && keepBlocks >= 1 &&
      keepBlocks <= blockCount,
      s"bad banding ($blockCount blocks, keep $keepBlocks, $totalBits bits)")
    // NOTE 64-bit signatures: shiftright sign-extends, but every block is
    // masked to its low `bits` after the shift, so the extension never
    // reaches a key
    val bits = totalBits / blockCount
    val mask = (1L << bits) - 1L
    val tables = (0 until blockCount).combinations(keepBlocks).toArray.zipWithIndex
      .map { case (sub, ti) =>
        val key = sub.foldLeft(lit(0L): org.apache.spark.sql.Column) { (acc, b) =>
          shiftleft(acc, bits)
            .bitwiseOR(shiftright(col("sig"), b * bits).bitwiseAND(mask))
        }
        struct(lit(ti).as("block"), key.as("bkey"))
      }
    rows.select(col(idCol), col("kind"),
        explode(array(tables.toIndexedSeq: _*)).as("__t"))
      .select(col(idCol), col("kind"),
        col("__t.block").as("block"), col("__t.bkey").as("bkey"))
  }

  /** Block-subset banded candidate pairs over a `(idCol, kind, sig)`
    * frame: `blockCount` blocks of 60/blockCount bits, one bucket table
    * per `keepBlocks`-subset of blocks, singleton buckets pruned before
    * the self-join. Package-private HOOK — the Scratch ablation arms
    * call this with both the production and the historical
    * parameterization, so profiling code cannot drift from the
    * production banding arithmetic. @return (kind, id_a, id_b), id_a <
    * id_b, deduplicated across tables, NOT yet Hamming-verified. */
  private[graft] def bandedCandidates(rows: DataFrame, idCol: String,
      blockCount: Int, keepBlocks: Int, totalBits: Int = 60): DataFrame = {
    val blocks = bandedBlocks(rows, idCol, blockCount, keepBlocks, totalBits)
    val hot = blocks.groupBy("kind", "block", "bkey")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select("kind", "block", "bkey")
    val pruned = blocks.join(hot, Seq("kind", "block", "bkey"))
    pruned.select(col("kind"), col("block"), col("bkey"),
        col(idCol).as("id_a"))
      .join(pruned.select(col("kind"), col("block"), col("bkey"),
        col(idCol).as("id_b")), Seq("kind", "block", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("kind", "id_a", "id_b").dropDuplicates("kind", "id_a", "id_b")
  }

  /** Near-dup SIGNATURE pairs: distinct same-kind signatures within
    * `maxDist` Hamming bits, banded at the DISTINCT-SIG level. Because
    * the banded ids are the signatures themselves, verification is a
    * popcount on the pair key — no sig-fetch join. Parameterized over
    * the banding geometry so the 60-bit byte-stream and 64-bit
    * decoded-plane paths share one implementation. */
  private def repSigPairs(sigsDistinct: DataFrame, maxDist: Int,
      blockCount: Int, totalBits: Int): DataFrame = {
    require(maxDist >= 1 && maxDist < blockCount,
      s"maxDist in [1, ${blockCount - 1}], got $maxDist")
    bandedCandidates(sigsDistinct.withColumn("__rid", col("sig")), "__rid",
        blockCount, blockCount - maxDist, totalBits)
      .select(col("kind"), col("id_a").as("sig_a"), col("id_b").as("sig_b"),
        call_function("bit_count", col("id_a").bitwiseXOR(col("id_b")))
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Full verified pair set over a `(media_id, kind, sig)` frame, built
    * COLLAPSED-FIRST: identical signatures group into cliques up front,
    * banding and Hamming verification run over DISTINCT signatures only,
    * and member pairs re-expand at the end. A dup storm (many
    * byte-identical replicas) previously pushed every replica through
    * every bucket table and a table-duplicated quadratic self-join;
    * collapsed, a clique of g replicas costs g table rows and its
    * g·(g−1)/2 OUTPUT pairs are produced once, by one equi-join on the
    * sig key — the floor for an operator whose contract is the pairs
    * themselves. Shared by the byte-stream (5×12-bit) and decoded-plane
    * (4×16-bit) paths. */
  private def collapsedPairs(members: DataFrame, maxDist: Int,
      blockCount: Int, totalBits: Int): DataFrame = {
    val rp = repSigPairs(members.select("kind", "sig").distinct(), maxDist,
      blockCount, totalBits)
    // cross-clique: every (member of sig_a) × (member of sig_b); groups
    // are disjoint so least/greatest orients without collision
    val cross = rp
      .join(members.select(col("kind"), col("sig").as("sig_a"),
        col("media_id").as("__ma")), Seq("kind", "sig_a"))
      .join(members.select(col("kind"), col("sig").as("sig_b"),
        col("media_id").as("__mb")), Seq("kind", "sig_b"))
      .select(col("kind"), least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("hamming"))
    // within-clique: identical signatures, Hamming 0 by construction
    val clique = members
      .join(members.select(col("kind"), col("sig"),
        col("media_id").as("id_b")), Seq("kind", "sig"))
      .filter(col("media_id") < col("id_b"))
      .select(col("kind"), col("media_id").as("id_a"), col("id_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(clique).select("kind", "id_a", "id_b", "hamming")
  }

  /** Byte-stream banding geometry: 5 blocks of 12 bits. MEASURED against
    * the r12 6×10 scheme at sf5 (259k distinct sigs, maxDist 3): 10
    * tables/24-bit keys generate 25.6M candidates in 7.0 s where 20
    * tables/30-bit keys generate 18.4M in 9.5 s — bucket-table volume
    * (rows × tables) costs more than the extra candidates' popcounts.
    * Same n-dependence as the decoded path's 4×16 choice: coarser
    * subsets win until n² / 2^keyBits noise dominates (~10^6 distinct
    * sigs at 24-bit keys). */
  private val byteStreamBlocks = 5

  private def pairsFromSigs(sigs: DataFrame, maxDist: Int): DataFrame =
    collapsedPairs(sigs.select("media_id", "kind", "sig"), maxDist,
      blockCount = byteStreamBlocks, totalBits = 60)

  /** Media dedup SURVIVORS — the keep-list the near-dup pairs exist to
    * produce: connected components over [[perceptualNearDupPairs]]'s
    * same-kind pair graph ([[Dedup.dedupClusters]] label propagation),
    * then per cluster keep the HIGHEST-FIDELITY copy (largest payload;
    * ties → smallest id — among re-encodes of one asset you keep the
    * least-compressed master, the media analogue of q72's longest-text
    * rule). Unclustered assets pass through with a null cluster_id. Only
    * (id, kind, byte_len) metadata flows through the clustering — the
    * payload bytes never shuffle. @return (media_id, kind, byte_len,
    * cluster_id) — survivors + singletons */
  def perceptualDedupSurvivors(blobs: Dataset[MediaBlob], maxDist: Int = 3)
      : DataFrame = {
    // one decoded pass feeds BOTH the fidelity metadata and the pair
    // graph — re-deriving them separately re-signed the whole corpus
    val sm = sigMeta(blobs)
    val meta = sm.select("media_id", "kind", "byte_len")
    // Connectivity needs a SPANNING edge set, not every verified pair: a
    // clique of identical signatures connects through its min-id
    // representative (star edges, g−1 instead of g·(g−1)/2), and a
    // near-dup signature pair contributes one rep–rep edge standing in
    // for all its cross-member pairs. Components are provably identical
    // to the full pair graph's — every collapsed edge corresponds to a
    // verified pair, and every verified pair's endpoints are connected
    // through their reps — so the survivor choice (max byte_len, min id)
    // is unchanged while the dup-storm edge volume drops from quadratic
    // to linear in clique size.
    val members = sm.select("media_id", "kind", "sig")
    val reps = members.groupBy("kind", "sig")
      .agg(min(col("media_id")).as("__rep"))
    val star = members.join(reps, Seq("kind", "sig"))
      .filter(col("media_id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("media_id").as("id_b"))
    val repEdges = repSigPairs(reps.select("kind", "sig"), maxDist,
        blockCount = byteStreamBlocks, totalBits = 60)
      .join(reps.select(col("kind"), col("sig").as("sig_a"),
        col("__rep").as("__ra")), Seq("kind", "sig_a"))
      .join(reps.select(col("kind"), col("sig").as("sig_b"),
        col("__rep").as("__rb")), Seq("kind", "sig_b"))
      .select(least(col("__ra"), col("__rb")).as("id_a"),
        greatest(col("__ra"), col("__rb")).as("id_b"))
    graft.operators.Dedup.clusterSurvivors(meta,
      star.unionByName(repEdges), "media_id", "byte_len")
  }

  // ==========================================================================
  // DECODED-PLANE perceptual hashing — the path BEHIND the stub boundary
  // documented above [[perceptualSignature]]: signatures computed over the
  // decoded pixel grid, not the payload bytes, so codec-level re-encodes
  // (same pixels, different bytes) CONVERGE. The decoder is the JDK's own
  // `javax.imageio.ImageIO` (PNG/BMP/GIF/JPEG readers ship with Java SE) —
  // a real decode, not a fake: a PNG and a BMP of the same pixels produce
  // the same luma plane, byte-different payloads notwithstanding. Audio /
  // video planes would need external codecs and keep the byte-stream path.

  /** ImageIO's default stream cache is FILE-BACKED — every decode/encode
    * of an in-memory blob would create and delete a temp file, dwarfing
    * the actual codec work. Memory caching once per JVM; touched lazily
    * by every codec path below. */
  private lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Luma plane of a decodable image payload: `(width, height, row-major
    * 8-bit luma)` via the integer Rec.601 weights (exact — `r=g=b` for
    * grayscale sources, so lossless codecs round-trip the plane bit-exactly).
    * `None` when ImageIO has no reader for the bytes. */
  private def decodeLuma(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      imageIoMemCache
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val luma = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            luma(y * w + x) = (299 * ((rgb >> 16) & 0xff) +
              587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
            x += 1
          }
          y += 1
        }
        Some((w, h, luma))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64-bit average-hash of a luma plane: 8×8 box-mean downsample, bit set
    * when the cell mean exceeds the mean of cell means. All-integer
    * arithmetic (cell means scaled by 2^20 before the truncating divide)
    * so every JVM — and the test oracle recomputing from the known plane —
    * produces the identical signature. Brightness-invariant by the
    * mean-compare; ties (uniform planes) hash to 0L. */
  private[graft] def planeAvgHash64(w: Int, h: Int, luma: Array[Int]): Long = {
    val scaled = new Array[Long](64)
    var ci = 0
    while (ci < 8) {
      var cj = 0
      while (cj < 8) {
        val (y0, y1) = (ci * h / 8, (ci + 1) * h / 8)
        val (x0, x1) = (cj * w / 8, (cj + 1) * w / 8)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += luma(y * w + x); n += 1; x += 1 }
          y += 1
        }
        scaled(ci * 8 + cj) = if (n == 0) 0L else (sum << 20) / n
        cj += 1
      }
      ci += 1
    }
    val grand = scaled.sum / 64
    var sig = 0L; var k = 0
    while (k < 64) { if (scaled(k) > grand) sig |= 1L << k; k += 1 }
    sig
  }

  /** Per-asset decoded-plane signature `(media_id, kind, sig, byte_len)`:
    * ImageIO decode → luma plane → [[planeAvgHash64]]. Undecodable
    * payloads fall back to the byte-stream SimHash (low 60 bits occupied)
    * so the operator totalizes over mixed corpora; the two families never
    * cross-compare because the kind is suffixed `:decoded` / `:raw` and
    * pairs are within-kind. `mapPartitions` so decoder state amortizes
    * over the batch — the real plumbing the stub note promised. */
  def decodedSignature(blobs: Dataset[MediaBlob]): DataFrame = {
    val s = blobs.sparkSession
    import s.implicits._
    blobs.mapPartitions { it =>
      it.map { b =>
        decodeLuma(b.payload) match {
          case Some((w, h, luma)) =>
            (b.media_id, b.kind + ":decoded", planeAvgHash64(w, h, luma),
              b.payload.length.toLong)
          case None =>
            (b.media_id, b.kind + ":raw",
              graft.functions.SketchImpl.byteGramSimhash60(b.payload, 4),
              b.payload.length.toLong)
        }
      }
    }.toDF("media_id", "kind", "sig", "byte_len")
  }

  /** Decoded-plane near-dup pairs: same-kind assets whose PLANE hashes are
    * within `maxDist` Hamming bits — codec-invariant where
    * [[perceptualNearDupPairs]] is byte-local. Same collapsed-first shape:
    * identical planes clique on the sig key, block-subset banding runs
    * over DISTINCT signatures only with pigeonhole-exact recall.
    *
    * Banding geometry is 4 blocks of 16 bits, keep `4 − maxDist` —
    * deliberately COARSER than q115's 5×12 scheme: table count is
    * C(blocks, blocks−maxDist), so 8×8-bit blocks cost 28 tables at
    * maxDist 2 where 4×16-bit cost 6, and the bucket-table volume (rows ×
    * tables) dominated the measured sf5 wall (~29 s of a 33 s query, the
    * codecs ≤6 s). The coarse keys are still 32 bits — birthday noise
    * n²/2^32 stays negligible to ~10^8 distinct signatures, the regime
    * where a finer subset scheme starts paying for itself.
    * @return (kind, id_a, id_b, hamming), id_a < id_b */
  def decodedNearDupPairs(blobs: Dataset[MediaBlob], maxDist: Int = 2)
      : DataFrame =
    collapsedPairs(Dedup.barrier(
        decodedSignature(blobs).select("media_id", "kind", "sig")),
      maxDist, blockCount = 4, totalBits = 64)

  /** Deterministic 16×16 gray plane for a document: an md5 chain over
    * `(id, text)` expanded to 256 pixel bytes. Unique per document with
    * overwhelming probability, shared EXACTLY by every codec encode of
    * the same document — the fixture [[imageBlobsFromDocs]] and the test
    * oracle both derive from. */
  private[graft] def docPlane(id: Long, text: String): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](256)
    var block = md.digest((id.toString + "|" + text).getBytes("UTF-8"))
    var k = 0
    while (k < 256) {
      if (k % 16 == 0 && k > 0) block = md.digest(block)
      out(k) = block(k % 16) & 0xff
      k += 1
    }
    out
  }

  /** Lossless encode of a 16×16 gray plane. TYPE_INT_RGB deliberately (not
    * TYPE_BYTE_GRAY): `setRGB`/`getRGB` on a gray raster pass through an
    * sRGB↔linear-gray colorspace conversion whose rounding differs from
    * the BMP palette path — the RGB raster round-trips EXACTLY through
    * both the PNG and BMP writers, which is what makes decoded-plane
    * convergence provable rather than approximate. */
  private[graft] def encodePlane(plane: Array[Int], fmt: String): Array[Byte] = {
    imageIoMemCache
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var k = 0
    while (k < 256) {
      val v = plane(k)
      img.setRGB(k % 16, k / 16, (v << 16) | (v << 8) | v)
      k += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  /** REAL-image corpus from a documents table: per doc a deterministic
    * 16×16 gray plane ([[docPlane]]) encoded twice — the PNG master
    * (`doc_id`) and a BMP re-encode of the IDENTICAL pixels
    * (`doc_id + 3e9`). Byte-level dedup provably misses the twin
    * (different codecs, different bytes); decoded-plane hashing lands it
    * at Hamming 0 exactly. The expected pair set is therefore a pure
    * function of the doc ids — the SQL-expressible oracle for a decode
    * no SQL engine can perform. */
  def imageBlobsFromDocs(df: DataFrame, idCol: String, textCol: String)
      : Dataset[MediaBlob] = {
    val s = df.sparkSession
    import s.implicits._
    // CPU-bound per-row codec work must not inherit the scan's IO-shaped
    // partitioning (small files pack into one multi-megabyte split — the
    // whole encode stage would serialize on toy corpora); the shuffled
    // rows are just (id, text)
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val plane = docPlane(id, if (text == null) "" else text)
          Seq(
            MediaBlob(id, "image", encodePlane(plane, "png")),
            MediaBlob(id + 3000000000L, "image", encodePlane(plane, "bmp")))
        }
      }
  }
}
