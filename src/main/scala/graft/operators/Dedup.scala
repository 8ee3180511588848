package graft.operators

import graft.functions.{Hashing, SortedIntersectCount, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for 100 TB:
  *
  *  - Exact dedup is a hash-groupBy on a 64-bit content hash — one shuffle on
  *    a high-cardinality key (AQE handles skew), never on the full text.
  *  - MinHash/LSH candidate generation shuffles only (id, band-hash) pairs —
  *    `bands × 8` bytes per doc, not the document text; the verify step joins
  *    token sets only for the candidate pairs (tiny vs N²).
  *  - All signature math is builtin-composed (see [[graft.functions.Hashing]]),
  *    stays in whole-stage codegen, and is engine-agnostic (md5-based), so
  *    results are reproducible anywhere.
  */
object Dedup {

  /** Pre-flight loud-fail shared by the bucket-scoped pairing surfaces: if
    * any group of `keyCols` in `keyed` exceeds `maxRows`, throw with the
    * operator's own message instead of silently running a quadratic
    * within-group join. One count-aggregate job over the (usually already
    * materialized) keyed projection — the price of never discovering a B²
    * blowup from a hung stage.
    */
  private[operators] def requireBoundedGroups(
      keyed: DataFrame,
      keyCols: Seq[String],
      maxRows: Long,
      msg: (String, Long) => String,
  ): Unit = {
    val oversized = keyed
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxRows)
      .limit(1)
      .collect()
    if (oversized.nonEmpty) {
      val key = keyCols.indices.map(i => oversized.head.get(i)).mkString(", ")
      throw new IllegalStateException(msg(key, oversized.head.getLong(keyCols.length)))
    }
  }

  /** Exact dedup: one survivor (min id) per distinct value of `keyCol`.
    * Returns (key-hash, n_copies, survivor id). Group on the md5-derived
    * 60-bit hash, not the raw text — the shuffle carries 8-byte long keys.
    * (Collision risk 2^-60-scale; for absolute certainty group on the full
    * md5 hex instead.)
    */
  def exactGroups(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(Hashing.hash64(keyCol).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(idCol).as("keep_id"))

  /** Exact dedup applied: keep only the survivor row per key. */
  def exactDedup(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val survivors = exactGroups(df, keyCol, idCol).select(col("keep_id"))
    df.join(survivors, idCol === col("keep_id"), "left_semi")
  }

  /** MinHash signature columns (mh0..mh{k-1}) from a text column.
    *
    * Explode→aggregate formulation: tokens are exploded, each token is
    * md5-hashed ONCE, and the k permutation minima are partial-aggregated
    * map-side — the shuffle carries (id, 8×long), never text. The naive
    * array-expression form ([[graft.functions.Hashing.minhash]]) re-hashes
    * every token k times because Catalyst inlines the shared subexpression
    * into each of the k projections (measured 8× md5 cost at sf0.1).
    * CONTRACT: docs with an empty token set produce NO row (explode emits
    * nothing) — the q21 oracle filters them explicitly; left-join the ids
    * back if a row-per-doc is required.
    */
  def withMinhash(
      df: DataFrame,
      idCols: Seq[String],
      textCol: Column,
      k: Int = 8,
      tokenizer: Column => Column = TextAnalysis.tokenSet,
  ): DataFrame = {
    val ids = idCols.map(col)
    val h = (Hashing.hash64(col("__tok")) % Hashing.P).as("__h")
    val aggs = Hashing
      .minhashCoeffs(k)
      .zipWithIndex
      .map { case ((a, b), i) => min((lit(a) * col("__h") + lit(b)) % Hashing.P).as(s"mh$i") }
    df.select(ids :+ explode(tokenizer(textCol)).as("__tok"): _*)
      .select(ids :+ h: _*)
      .groupBy(ids: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** SimHash column (`simhash`) via the same explode→aggregate formulation as
    * [[withMinhash]]: each token is md5-hashed ONCE, the per-bit ±1 votes are
    * partial-aggregated map-side, and the final signature is assembled from
    * the `bits` vote sums in one projection. The array-expression form
    * ([[graft.functions.Hashing.simhash]]) embeds the shared hashed-token
    * array into each of the `bits` aggregates — Catalyst inlines it, so md5
    * runs `bits`× per token (measured 6× slower at sf0.1). Bit-for-bit the
    * same result: vote sums are order-independent.
    * CONTRACT: docs with an empty token set produce NO row (explode emits
    * nothing; the array form would emit an all-ones signature from empty
    * vote sums) — the q23 oracle filters them explicitly.
    */
  def withSimhash(
      df: DataFrame,
      idCols: Seq[String],
      textCol: Column,
      bits: Int = 16,
      tokenizer: Column => Column = TextAnalysis.tokenSet,
  ): DataFrame = {
    val ids = idCols.map(col)
    val h = Hashing.hash64(col("__tok")).as("__h")
    val votes = (0 until bits).map { j =>
      sum(shiftright(col("__h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"__v$j")
    }
    val sig = (0 until bits)
      .map(j => when(col(s"__v$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    df.select(ids :+ explode(tokenizer(textCol)).as("__tok"): _*)
      .select(ids :+ h: _*)
      .groupBy(ids: _*)
      .agg(votes.head, votes.tail: _*)
      .select(ids :+ sig.as("simhash"): _*)
  }

  /** LSH banding: docs agreeing on ALL rows of any band become candidate
    * pairs. With k=8, bands=4 (2 rows/band), Jaccard-0.8 pairs are caught
    * with p = 1-(1-0.8²)⁴ ≈ 0.98. The self-join is an equi-join on the band
    * key — shuffle is O(N·bands) small rows; within-bucket pairing is the
    * only quadratic step and buckets are tiny by construction.
    *
    * Band fan-out self-join with the full signature carried on both sides.
    * The join key is the band struct itself (raw longs — no string
    * synthesis); `firstBandOnly` keeps a pair only in its first matching
    * band, so every candidate pair is emitted EXACTLY once and no
    * multi-million-row DISTINCT shuffle is needed.
    */
  private def bandedPairs(df: DataFrame, idCol: String, textCol: String, k: Int, bands: Int): DataFrame = {
    // Materialize the signatures once: the self-join below would otherwise
    // compute the tokenize+hash subtree twice unless ReuseExchange happens to
    // fire — correctness must not lean on an optional physical optimization.
    // [[Pin.spread]] first: the per-token md5 work runs BEFORE the first
    // shuffle, i.e. at input-split parallelism — one small file = one core.
    val sig = Lineage.truncate(
      withMinhash(Pin.spread(df.select(col(idCol), col(textCol)), col(idCol)), Seq(idCol), col(textCol), k)
    )
    bandedPairsOfSigs(sig.withColumnRenamed(idCol, "id"), k, bands)
  }

  /** The banding self-join over a PRECOMPUTED signature table (`id`,
    * `mh0..mh{k-1}`, any extra columns ride along on both sides) — the
    * caller must pass a materialized input (see [[bandedPairs]]).
    */
  private def bandedPairsOfSigs(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val bandCols = (b * rows until (b + 1) * rows).zipWithIndex.map { case (i, j) =>
        col(s"mh$i").as(s"k$j")
      }
      struct((lit(b).as("band") +: bandCols): _*)
    }
    val banded = sig.select(
      sig.columns.map(col).toSeq :+ explode(array(bandStructs: _*)).as("bk"): _*
    )
    def bandEq(b: Int) =
      (b * rows until (b + 1) * rows).map(i => col(s"l.mh$i") === col(s"r.mh$i")).reduce(_ && _)
    val firstBandOnly = (0 until bands)
      .map { b =>
        val earlierNoMatch = (0 until b).map(b2 => !bandEq(b2)).foldLeft(lit(true))(_ && _)
        (col("l.bk.band") === b) && earlierNoMatch
      }
      .reduce(_ || _)
    Pin
      .selfJoin(banded, Seq("bk"), col("l.id") < col("r.id"))
      .filter(firstBandOnly)
  }

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String, k: Int = 8, bands: Int = 4): DataFrame =
    bandedPairs(df, idCol, textCol, k, bands)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))

  /** Jaccard similarity of two distinct-token arrays (set semantics — both
    * engines' intersect dedups).
    */
  def jaccard(ta: Column, tb: Column): Column = {
    val inter = size(array_intersect(ta, tb))
    inter.cast("double") / (size(ta) + size(tb) - inter)
  }

  /** Jaccard over SORTED DISTINCT hashed token sets
    * ([[graft.functions.TextAnalysis.hashedTokenSet]]) via the zero-alloc
    * merge-intersect expression — the scale form of [[jaccard]].
    */
  def jaccardHashed(ha: Column, hb: Column): Column = {
    val inter = SortedIntersectCount.sortedIntersectCount(ha, hb)
    inter.cast("double") / (size(ha) + size(hb) - inter)
  }

  /** Length-ratio prefilter (the classic size filter from similarity-join
    * literature): J(A,B) >= t implies min(|A|,|B|) >= t * max(|A|,|B|)
    * (intersection <= min, union >= max), so this NEVER removes a qualifying
    * pair — it just skips the merge-intersect for size-mismatched candidates
    * using two ints already at hand.
    */
  private def sizeRatioOk(sa: Column, sb: Column, threshold: Double): Column =
    least(sa, sb).cast("double") >= lit(threshold) * greatest(sa, sb)

  /** Asymmetric containment near-dup pairs within blocks:
    * `C(A→B) = |A∩B| / |A|` — the EXCERPT/quote detector Jaccard
    * structurally misses (a 50-token doc fully contained in a 5000-token
    * doc has J ≈ 0.01 but C(small→big) = 1.0). A pair is emitted when
    * EITHER direction's containment reaches `threshold`; both directions
    * ride along so the caller can tell quote-of from quoted-by.
    *
    * `shingleN` sets the unit: 1 = unigram token sets (cheap, loose —
    * dense-vocab corpora make almost everything contained); n > 1 = word
    * n-gram shingle sets, the discriminative real-world form for quote
    * detection (a shared 3-gram is evidence of shared PHRASING, not shared
    * vocabulary). Docs with fewer than `shingleN` tokens have no shingles
    * and emit no pairs.
    *
    * Same loud `maxBlockRows` block guard and plan shape as
    * [[jaccardPairs]] (one materialized hashed-token projection, equi-join
    * on the block key, zero-alloc merge intersect) — but NO size-ratio
    * prefilter: size mismatch is exactly the signal here, so there is
    * nothing sound to prune on. Dedup policy downstream is the caller's
    * (typically: drop the contained side).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      maxBlockRows: Long = 100000L,
      shingleN: Int = 1,
  ): DataFrame = {
    require(shingleN >= 1, s"containmentPairs: shingleN must be >= 1: $shingleN")
    val oversized = df
      .groupBy(col(blockCol))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlockRows)
      .limit(1)
      .collect()
    if (oversized.nonEmpty) {
      val block = oversized.head.get(0)
      val n = oversized.head.getLong(1)
      throw new IllegalStateException(
        s"containmentPairs: block '$block' of '$blockCol' has $n rows (> maxBlockRows=$maxBlockRows): " +
          s"the within-block pairing would enumerate ~${n * n / 2} pairs. Shard the block column or " +
          "raise maxBlockRows deliberately."
      )
    }
    // Token array hoisted to an attribute BEFORE the n-gram transform —
    // wordNgramHashesFromTokens' documented inlining trap. The shingle
    // projection is materialized ONCE: it feeds both self-join sides, and
    // the n-gram md5 work must not run twice (the bandedPairs stance).
    val toks = Lineage.truncate(
      Pin
        .spread(df.select(col(idCol).as("id"), col(blockCol).as("block"), col(textCol).as("__txt")), col("id"))
        .select(col("id"), col("block"), TextAnalysis.wsTokens(col("__txt")).as("__t"))
        .select(
          col("id"),
          col("block"),
          (if (shingleN == 1) sort_array(array_distinct(transform(col("__t"), t => Hashing.hash64(t))))
           else sort_array(array_distinct(TextAnalysis.wordNgramHashesFromTokens(col("__t"), shingleN))))
            .as("toks"),
        )
    )
    val inter = SortedIntersectCount.sortedIntersectCount(col("l.toks"), col("r.toks"))
    Pin
      .selfJoin(toks, Seq("block"), col("l.id") < col("r.id"))
      .withColumn("__i", inter)
      .filter(size(col("l.toks")) > 0 && size(col("r.toks")) > 0)
      .withColumn("cont_a", col("__i").cast("double") / size(col("l.toks")))
      .withColumn("cont_b", col("__i").cast("double") / size(col("r.toks")))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cont_a"), col("cont_b"))
  }

  /** Verify candidate pairs: join hashed token sets back, keep pairs with
    * Jaccard >= threshold. Only candidates are joined — the full corpus is
    * never crossed; the shuffle carries fixed-width long arrays, not text.
    */
  def jaccardVerify(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
  ): DataFrame =
    jaccardVerifyToks(
      candidates,
      // Materialized once and [[Pin.spread]]: [[jaccardVerifyToks]] joins
      // this table to BOTH pair endpoints, and Spark does not CSE DataFrame
      // branches — without the checkpoint the per-doc tokenize+hash+sort
      // runs twice, and on a single-split input it runs on one core.
      Lineage.truncate(
        Pin
          .spread(docs.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
          .select(col("id"), TextAnalysis.hashedTokenSet(col("__txt")).as("toks"))
      ),
      threshold,
    )

  /** [[jaccardVerify]] over a PRECOMPUTED hashed-token-set table
    * (`id`, `toks`) — the form the index-backed incremental path uses so
    * stored token sets are never re-tokenized.
    */
  def jaccardVerifyToks(candidates: DataFrame, toks: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .filter(sizeRatioOk(size(col("toks_a")), size(col("toks_b")), threshold))
      .withColumn("jaccard", jaccardHashed(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Full MinHash near-dup pipeline: banding candidates → signature-agreement
    * prefilter (pairs must agree on >= `minAgree` of the k minhashes — an
    * unbiased jaccard estimate, 8 long compares vs an array intersect) →
    * exact hashed-set Jaccard verify. Each narrowing step is cheap relative
    * to the one after it; the quadratic work only ever happens inside
    * buckets.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.8,
      minAgree: Int = 4,
  ): DataFrame = {
    // Signatures ride along through bandedPairs, so the agreement prefilter
    // (>= minAgree of k minhashes equal — an unbiased jaccard estimate from
    // 8 long compares) is a projection, applied before the expensive
    // hashed-set intersect ever runs.
    val agree = (0 until k)
      .map(i => when(col(s"l.mh$i") === col(s"r.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val prefiltered = bandedPairs(df, idCol, textCol, k, bands)
      .filter(agree >= minAgree)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    jaccardVerify(prefiltered, df, idCol, textCol, threshold)
  }

  /** LSH banding observability: how many candidate pairs each band catches
    * FIRST (the exactly-once discipline's attribution — a pair counts for
    * its earliest agreeing band). The tuning readout for band count: if
    * band 0 catches ~everything the corpus is near-duplicate-heavy and
    * bands can shrink; if the tail bands still catch pairs, recall depends
    * on every band and dropping one loses pairs. Same banding join as
    * [[minhashCandidates]]; the report is a |bands|-row aggregate.
    */
  def lshBandReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
  ): DataFrame =
    bandedPairs(df, idCol, textCol, k, bands)
      .select(col("l.bk.band").as("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"))

  /** MinHash estimator calibration report: for every banding candidate
    * pair, compare the sketch's Jaccard estimate (`n_eq` of `k` signature
    * components equal — the unbiased estimator [[minhashNearDupPairs]]'
    * prefilter thresholds on) against the EXACT hashed-token-set Jaccard,
    * grouped by `n_eq`. The pipeline-health check that answers "is
    * `minAgree = m` the right knob for this corpus?" with measured
    * per-estimate truth instead of the theoretical E[n_eq/k] = J.
    *
    * Determinism: exact Jaccard is quantized to integer PER MILLE
    * (`inter·1000 div union`) before any aggregation, so the per-bucket
    * mean is an exact integer sum followed by ONE IEEE division — no
    * order-dependent double accumulation.
    *
    * Output: (n_eq, n_pairs, mean/min/max_jaccard_permille), one row per
    * observed agreement count. Scale shape = [[minhashNearDupPairs]]':
    * banding equi-join on signature structs, agreement as a projection on
    * the riding signatures, token sets joined in once, then a ≤ k+1-row
    * aggregate. `sampleDen > 1` keeps a deterministic 1/sampleDen of the
    * candidate pairs (by pair-id hash, BEFORE the token join — the
    * expensive half) — calibration is a statistical health check, so a
    * reproducible pair sample is the right cost control on a self-similar
    * corpus whose banding candidates vastly outnumber its true near-dups.
    */
  def minhashCalibration(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      sampleDen: Int = 1,
  ): DataFrame = {
    val agree = (0 until k)
      .map(i => when(col(s"l.mh$i") === col(s"r.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val cand = bandedPairs(df, idCol, textCol, k, bands)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), agree.as("n_eq"))
      .filter(
        // Cheap integer pair mix (NOT md5 — this runs once per candidate):
        // ((a mod 999983)·999979 + b mod 999983) mod den. The multiplier is
        // not ±1 mod any small den, so the kept set is not an id-difference
        // class; overflow-safe for ids < 2^43 under ANSI.
        if (sampleDen <= 1) lit(true)
        else ((col("id_a") % 999983L) * 999979L + col("id_b") % 999983L) % sampleDen === 0
      )
    val toks = df.select(col(idCol).as("id"), TextAnalysis.hashedTokenSet(col(textCol)).as("toks"))
    cand
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("__inter", SortedIntersectCount.sortedIntersectCount(col("toks_a"), col("toks_b")).cast("long"))
      .withColumn("__union", (size(col("toks_a")) + size(col("toks_b"))).cast("long") - col("__inter"))
      .withColumn("__permille", expr("__inter * 1000 div __union"))
      .groupBy(col("n_eq"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__permille")).as("__sum"),
        min(col("__permille")).as("min_jaccard_permille"),
        max(col("__permille")).as("max_jaccard_permille"),
      )
      .select(
        col("n_eq"),
        col("n_pairs"),
        (col("__sum").cast("double") / col("n_pairs").cast("double")).as("mean_jaccard_permille"),
        col("min_jaccard_permille"),
        col("max_jaccard_permille"),
      )
  }

  /** Block-scoped hashed-Jaccard pair enumeration: all (id_a < id_b) pairs
    * within the same `blockCol` whose hashed-token-set Jaccard meets
    * `threshold`. The shared pair source for q24/q45/Curate — one definition
    * so the predicate can't drift between callers.
    *
    * This is the EXACT-recall, N²/|blocks| variant — correct but quadratic
    * inside a block, so it guards itself: a cheap pre-flight count over just
    * `blockCol` (column-pruned scan, no tokenization) fails loudly when any
    * block exceeds `maxBlockRows`, the same stance as
    * [[connectedComponents]]' `maxRounds` — a 3-block 100 TB corpus must
    * error with a pointer to [[minhashNearDupPairs]], not silently enumerate
    * 10^15 pairs. The guard makes this operator EAGER (one small driver
    * action at call time).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      maxBlockRows: Long = 100000L,
  ): DataFrame = {
    val oversized = df
      .groupBy(col(blockCol))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBlockRows)
      .limit(1)
      .collect()
    if (oversized.nonEmpty) {
      val block = oversized.head.get(0)
      val n = oversized.head.getLong(1)
      throw new IllegalStateException(
        s"jaccardPairs: block '$block' of '$blockCol' has $n rows (> maxBlockRows=$maxBlockRows): " +
          s"the within-block pairing would enumerate ~${n * n / 2} pairs. Use minhashNearDupPairs " +
          "(LSH-banded, sub-quadratic) for such corpora, or raise maxBlockRows deliberately."
      )
    }
    // Materialized once (the containmentPairs stance): the projection feeds
    // BOTH self-join sides, and Spark does not CSE DataFrame branches — the
    // per-doc tokenize+hash+sort must not run twice.
    val toks = Lineage.truncate(
      Pin
        .spread(df.select(col(idCol).as("id"), col(blockCol).as("block"), col(textCol).as("__txt")), col("id"))
        .select(col("id"), col("block"), TextAnalysis.hashedTokenSet(col("__txt")).as("toks"))
    )
    Pin
      .selfJoin(toks, Seq("block"), col("l.id") < col("r.id"))
      .filter(sizeRatioOk(size(col("l.toks")), size(col("r.toks")), threshold))
      .withColumn("jaccard", jaccardHashed(col("l.toks"), col("r.toks")))
      .filter(col("jaccard") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("jaccard"))
  }

  /** Exact-threshold Jaccard similarity join over the WHOLE corpus with NO
    * blocking column — the prefix-filtering (AllPairs/PPJoin) algorithm:
    * order every doc's tokens by ascending global document frequency (ties
    * by token hash), keep only each doc's first
    * `p = |x| - ceil(t·|x|) + 1` tokens (its "prefix" — the rarest ones),
    * and pair docs sharing ANY prefix token. The prefix-filtering principle
    * guarantees every pair with `J ≥ t` shares a prefix token under a
    * common global order, so after the exact verify the output EQUALS the
    * brute-force threshold join — same results as [[jaccardPairs]] without
    * its block column or its N²/blocks cost, and exact recall where
    * [[minhashNearDupPairs]] is probabilistic.
    *
    * The threshold is a rational `num/den` so the prefix length is integer
    * arithmetic (`ceil(t·sz) = (num·sz + den − 1) div den`) — no float
    * rounding to mirror cross-engine; the verify compares the same double
    * `jaccard` both engines compute.
    *
    * Scale design: the hashed-token projection is materialized once (feeds
    * the ranking, the guard, and the verify); candidate buckets are keyed
    * by RARE tokens by construction (frequent tokens sort out of every
    * prefix), and a loud pre-flight fails if any prefix token still
    * exceeds `maxPrefixBucketRows` (a corpus of near-identical docs makes
    * every token rare-per-doc but shared-by-all). The pair join shuffles
    * (token, id, sz) — never text or token arrays; the arrays only travel
    * to verify the deduplicated candidates.
    */
  def prefixJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholdNum: Int = 4,
      thresholdDen: Int = 5,
      maxPrefixBucketRows: Long = 100000L,
      shingleN: Int = 1,
  ): DataFrame = {
    require(
      thresholdNum > 0 && thresholdDen > 0 && thresholdNum <= thresholdDen,
      s"prefixJaccardJoin: threshold must be a rational in (0, 1]: $thresholdNum/$thresholdDen",
    )
    require(shingleN >= 1, s"prefixJaccardJoin: shingleN must be >= 1: $shingleN")
    val threshold = thresholdNum.toDouble / thresholdDen
    // shingleN > 1: word n-gram shingle sets (the discriminative real-world
    // unit — see containmentPairs) with the token array hoisted to an
    // attribute first (wordNgramHashesFromTokens' documented inlining trap).
    val toks = Lineage.truncate(
      Pin
        .spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
        .select(col("id"), TextAnalysis.wsTokens(col("__txt")).as("__t"))
        .select(
          col("id"),
          (if (shingleN == 1) sort_array(array_distinct(transform(col("__t"), t => Hashing.hash64(t))))
           else sort_array(array_distinct(TextAnalysis.wordNgramHashesFromTokens(col("__t"), shingleN))))
            .as("toks"),
        )
        .filter(size(col("toks")) > 0)
    )
    val ex = toks.select(col("id"), size(col("toks")).as("sz"), explode(col("toks")).as("tok"))
    val dfTab = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))
    val prefixLen = col("sz") - expr(s"(($thresholdNum * sz) + ${thresholdDen - 1}) div $thresholdDen") + 1
    // [[Pin.byKey]] at the doc grain BEFORE the ranking window: the join
    // by token and the per-doc row_number both carry the exploded token
    // stream (O(corpus tokens) rows of real sort work), and AQE's
    // byte-based coalescing runs them on one task otherwise (measured:
    // 3.2 s single-task stage at sf0.1). The pinned exchange doubles as
    // the window's own partitioning requirement.
    val prefix = Lineage.truncate(
      Pin
        .byKey(ex.join(dfTab, "tok"), col("id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= prefixLen)
        .select(col("tok"), col("id"), col("sz"))
    )
    requireBoundedGroups(
      prefix.select(col("tok")),
      Seq("tok"),
      maxPrefixBucketRows,
      (tok, n) =>
        s"prefixJaccardJoin: prefix token $tok indexes $n docs (> maxPrefixBucketRows=$maxPrefixBucketRows): " +
          s"its candidate bucket would enumerate ~${n * n / 2} pairs — the corpus is too self-similar for " +
          "exact prefix filtering at this threshold. Use minhashNearDupPairs, or raise the limit deliberately.",
    )
    val cand = Pin
      .selfJoin(prefix, Seq("tok"), col("l.id") < col("r.id"))
      .filter(sizeRatioOk(col("l.sz"), col("r.sz"), threshold))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    jaccardVerifyToks(cand, toks, threshold)
  }

  /** Exact GLOBAL row number without a single-partition sort: two-phase
    * ranking over an order-aligned `bucket` column. Per-bucket counts (a
    * tiny table) turn into cumulative offsets via one window over that
    * table (its single-partition sort touches |buckets| rows, never data);
    * within-bucket `row_number` runs on a bucket-partitioned exchange; the
    * global rank is `offset + local`. Appends `rankCol` (1-based).
    *
    * CONTRACT: `bucket` must be monotone non-decreasing in the sort order —
    * i.e. a PREFIX of the leading sort column (`substring(key, 1, 4)` under
    * `orderBy(key, ...)`, `day` under `orderBy(ts, ...)`) — or the ranks
    * are garbage. Boundary sampling plays no part, so the result is
    * deterministic and engine-mirrorable (`ROW_NUMBER() OVER (ORDER BY
    * ...)`). At larger scale, lengthen the prefix for more, smaller
    * buckets; skew within one bucket bounds a single partition exactly
    * like any hash-partitioned window.
    */
  def globalRank(df: DataFrame, sortCols: Seq[Column], bucket: Column, rankCol: String = "rank"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialized once: the bucketed projection feeds BOTH the offset
    // aggregation and the ranking join — the input (often a tokenization)
    // must not compute twice.
    val b = Lineage.truncate(df.withColumn("__b", bucket))
    val offs = b
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"))
      .withColumn(
        "__off",
        coalesce(
          sum(col("__n")).over(Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L),
        ),
      )
      .select(col("__b"), col("__off"))
    val local = row_number().over(Window.partitionBy(col("__b")).orderBy(sortCols: _*))
    b.join(broadcast(offs), "__b")
      .withColumn(rankCol, local + col("__off"))
      .drop("__b", "__off")
  }

  /** Sorted-neighborhood (SNM) near-dup pairs: globally sort the corpus by
    * a fuzzy blocking key, slide a window of `windowSize` consecutive rows,
    * and verify every in-window pair's hashed-token-set Jaccard — the
    * classic entity-resolution blocking scheme, complementary to LSH
    * (catches whatever the sort key makes ADJACENT: shared openings,
    * near-equal lengths), with cost exactly `N·(windowSize−1)` candidate
    * pairs regardless of similarity structure — no bucket-collapse mode.
    *
    * Scale design: [[globalRank]] provides the total order without a
    * global sort (bucket = `bucketPrefixLen`-char prefix of the sort key);
    * neighbor pairing is ONE equi-join on the dense rank (the left side
    * explodes each row into its `windowSize−1` target ranks — integers,
    * not text); token arrays join in only for verification.
    *
    * Output: (id_a, id_b, rank_dist, jaccard), ids in sort order (a
    * precedes b).
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sortKey: Column,
      windowSize: Int = 10,
      threshold: Double = 0.8,
      bucketPrefixLen: Int = 4,
  ): DataFrame = {
    require(windowSize >= 2, s"sortedNeighborhoodPairs: windowSize must be >= 2: $windowSize")
    val toks = Lineage.truncate(
      globalRank(
        df.select(
          col(idCol).as("id"),
          sortKey.as("__k"),
          TextAnalysis.hashedTokenSet(col(textCol)).as("toks"),
        ),
        sortCols = Seq(col("__k"), col("id")),
        bucket = substring(col("__k"), 1, bucketPrefixLen),
      ).select(col("id"), col("rank"), col("toks"))
    )
    val probes = toks.select(
      col("id").as("id_a"),
      col("toks").as("toks_a"),
      col("rank").as("rank_a"),
      explode(sequence(col("rank") + 1, col("rank") + (windowSize - 1))).as("rank"),
    )
    probes
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b"), col("rank")), "rank")
      .filter(sizeRatioOk(size(col("toks_a")), size(col("toks_b")), threshold))
      .withColumn("jaccard", jaccardHashed(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        (col("rank") - col("rank_a")).cast("long").as("rank_dist"),
        col("jaccard"),
      )
  }

  /** Size-adaptive connected components — the default at every near-dup /
    * entity pair-graph site. Both kernels share the `comp = min id`
    * contract, so the choice is a plan decision, not a semantic one:
    *
    *  - at or above `StarMinEdges` (20M) edges, star contraction
    *    ([[connectedComponentsStar]]), immune to the O(diameter) failure
    *    mode outright;
    *  - below it, min-label propagation ([[connectedComponents]]) under a
    *    `LabelRoundsBudget` of 12 rounds. Its round count is the component
    *    diameter, which no edge count sees, so a graph that has not
    *    converged within the budget is a long-diameter graph on the wrong
    *    kernel: the dispatch escapes to star contraction on the same
    *    materialized edges, with a stderr report. Real near-dup graphs
    *    converge in 2–4 rounds.
    *
    * The two settings are constants, not parameters. Every caller uses
    * them, and the dispatch already adapts at run time: first to the
    * observed edge count, then to the rounds label propagation actually
    * needs. The large-graph crossover moves with host speed (ScaleBench has
    * measured either kernel winning at 47M–129M edges), and the budget
    * bounds label propagation's downside wherever the threshold lands. The
    * edges are materialized once (the count forces the lazy checkpoint) and
    * the chosen kernel re-reads them.
    */
  def connectedComponentsAdaptive(edges: DataFrame): DataFrame = connectedComponentsAdaptiveArm(edges)._1

  private val StarMinEdges = 20000000L
  private val LabelRoundsBudget = 12

  /** [[connectedComponentsAdaptive]] plus the arm it took: `"labelprop"`,
    * `"star"`, or `"escaped"` (label propagation blew its rounds budget and
    * star contraction produced the labels).
    */
  private[graft] def connectedComponentsAdaptiveArm(edges: DataFrame): (DataFrame, String) = {
    val mat = Lineage.truncate(edges.select(col("src"), col("dst")), eager = false)
    if (mat.count() >= StarMinEdges) (connectedComponentsStar(mat), "star")
    else
      labelPropagation(mat, LabelRoundsBudget) match {
        case Some((labels, _)) => (labels, "labelprop")
        case None =>
          System.err.println(
            s"[graft] connectedComponentsAdaptive: label propagation blew its $LabelRoundsBudget-round " +
              s"budget below the $StarMinEdges-edge threshold (long-diameter graph - rounds, not rows) - " +
              "escaping to star contraction on the same materialized edges.")
          (connectedComponentsStar(mat), "escaped")
      }
  }

  /** Connected components over an undirected pair graph (`src`,`dst` long
    * ids) by iterative min-label propagation: every node adopts the minimum
    * label among itself and its neighbors until fixpoint (O(component
    * diameter) rounds — near-dup clusters are dense, so typically 2-3).
    * Returns (id, component) where component = min id in the cluster — the
    * canonical survivor. Each round is one join + partial-aggregated min;
    * a lazy checkpoint (`Lineage.truncate(_, eager = false)`) truncates the
    * growing lineage. The convergence check is fused into the round twice
    * over: the previous label rides along through the update, and the "did
    * anything change" count is the SAME job that materializes the round's
    * checkpoint — one job per round total.
    *
    * `maxRounds` bounds the driver loop: min-label propagation is
    * O(diameter), so hitting the cap means the graph is a long chain —
    * fail loudly and point at the fix rather than looping for hours.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 100): DataFrame =
    connectedComponentsCounted(edges, maxRounds)._1

  /** [[connectedComponents]] plus its rounds-to-converge — the scale probe
    * ([[graft.ScaleBench]]) reports the round count because it, not the
    * per-round cost, is what grows with component diameter.
    */
  private[graft] def connectedComponentsCounted(edges: DataFrame, maxRounds: Int = 100): (DataFrame, Int) =
    labelPropagation(edges, maxRounds).getOrElse(
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds: component diameter exceeds the " +
          "cap (long-chain graph). Raise maxRounds, or switch to a star-contraction variant for such graphs."
      )
    )

  /** The min-label propagation loop on [[Lineage.iterate]]: the labels and
    * the rounds they took, or None when a label still changed in round
    * `maxRounds`.
    */
  private def labelPropagation(edges: DataFrame, maxRounds: Int): Option[(DataFrame, Int)] = {
    val und = Lineage.truncate(
      edges
        .select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(),
      eager = false,
    )
    val seed =
      Lineage.truncate(und.select(col("src").as("id")).distinct().withColumn("comp", col("id")), eager = false)
    // state: the labels, and how many of them the round that made them changed
    val run = Lineage.iterate((seed, 1L), maxRounds) { case ((labels, _), _) =>
      val neighborMin = und
        .join(labels.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
        .groupBy(col("src"))
        .agg(min(col("comp")).as("ncomp"))
      val next = Lineage.truncate(
        labels
          .join(neighborMin, labels("id") === neighborMin("src"), "left_outer")
          .select(col("id"), col("comp").as("prev"), least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp")),
        eager = false,
      )
      (next.select(col("id"), col("comp")), next.filter(col("comp") =!= col("prev")).count())
    } { case ((_, changed), _) => changed == 0 }
    if (run.converged) Some((run.state._1, run.rounds)) else None
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the large-star /
    * small-star algorithm from the MapReduce CC literature) — the
    * O(log n)-round path for graphs whose diameter defeats
    * [[connectedComponents]]' O(diameter) min-label propagation (a
    * 10^6-node chain needs 10^6 label rounds but ~20 star rounds).
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node's smaller-or-equal neighbors (and itself)
    *    re-attach to that minimum.
    *
    * Both steps are a groupBy-min + broadcast-free equi-join per round, all
    * min-based and deterministic (no RNG). At fixpoint the edge set is a
    * union of stars whose centers are the component minima — the same
    * (id, comp = min id) contract as [[connectedComponents]], so the two are
    * interchangeable. The rounds run on [[Lineage.iterate]]; lineage is
    * truncated per round with a LAZY checkpoint
    * (`Lineage.truncate(_, eager = false)`); the fixpoint fingerprint aggregation is the
    * action that materializes it, and it runs every SECOND round, so two
    * rounds of contraction plus the convergence check ride one job.
    */
  def connectedComponentsStar(edges: DataFrame, maxRounds: Int = 50): DataFrame =
    connectedComponentsStarCounted(edges, maxRounds)._1

  /** [[connectedComponentsStar]] plus its rounds-to-converge (see
    * [[connectedComponentsCounted]]).
    */
  private[graft] def connectedComponentsStarCounted(edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val nodes = Lineage.truncate(
      edges
        .select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id")))
        .distinct(),
      eager = false,
    )
    // canonical working set: undirected closure, self-loops dropped
    val canonical = Lineage.truncate(
      edges
        .select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct(),
      eager = false,
    )
    def minOfNeighborhood(d: DataFrame) =
      d.groupBy(col("src")).agg(least(min(col("dst")), first(col("src"))).as("m"))
    // distinct edge sets are equal iff (count, xor of row hashes) agree —
    // one partial-agg job over the lazily-checkpointed set (the agg both
    // materializes the checkpoint and computes the fingerprint), vs the two
    // exceptAll shuffles of a literal set-difference check
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = fingerprint(canonical)
    val run = Lineage.iterate(canonical, maxRounds) { (e, _) =>
      // large-star: (v, m(u)) for v in N(u), v > u — keeps the graph
      // connected while hanging big nodes off local minima. No dedup here:
      // the small-star canonicalization's distinct absorbs duplicates.
      val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val ls = und
        .join(minOfNeighborhood(und), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
      // small-star on the large-star output, edges directed big -> small:
      // (v, m(u)) for v in N<=(u) and u itself. NOT deduped: duplicates
      // cannot change a min, and the round-final distinct absorbs the dup
      // (dst, m) rows they produce — a distinct here is a wasted shuffle.
      val dir = ls
        .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      val mins = minOfNeighborhood(dir)
      val ss = dir
        .join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
      Lineage.truncate(ss, eager = false)
    } { (e, round) =>
      // Convergence is only CHECKED every second round (and at the cap):
      // the checkpoints stay lazy, so a skipped check means the two rounds
      // materialize under ONE action — half the job launches, at the price
      // of up to two extra (cheap, already-fixpoint) rounds. Correct
      // because the star fixpoint is absorbing: once e stops changing it
      // never changes again, so two equal CHECKED fingerprints still
      // witness the fixpoint.
      (round % 2 == 0 || round == maxRounds) && {
        val cur = fingerprint(e)
        val same = cur == prev
        prev = cur
        same
      }
    }
    if (!run.converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds — star contraction is " +
          "O(log n), so this indicates a bug or a pathological input, not a long chain."
      )
    // fixpoint edges are child -> component-min stars; roots label themselves
    val labeled = nodes
      .join(run.state.select(col("src").as("id"), col("dst").as("root")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
    (labeled, run.rounds)
  }

  /** SimHash near-dup pairs: bucket by the TOP `prefixBits` bits (so
    * 2^prefixBits buckets — larger prefixBits = more, smaller buckets =
    * cheaper pairing but lower recall), pair within buckets, keep Hamming
    * distance <= maxDist. At scale use [[simhashPairsRotated]] — multiple
    * rotated prefixes recover the pairs whose differing bits happen to
    * land in the single prefix.
    *
    * The signature projection is materialized ONCE (it feeds the guard and
    * both self-join sides — the simhash over full text must not run three
    * times), and any prefix bucket larger than `maxBucketRows` fails loudly
    * before the join (the [[jaccardPairs]] `maxBlockRows` stance): a
    * boilerplate-heavy corpus collapses into few buckets and the within-
    * bucket join silently goes B² otherwise. Raise `prefixBits` (more,
    * smaller buckets) or `maxBucketRows` deliberately.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 16,
      prefixBits: Int = 6,
      maxDist: Int = 3,
      maxBucketRows: Long = 100000L,
  ): DataFrame = {
    val bucketed = Lineage.truncate(
      withSimhash(Pin.spread(df.select(col(idCol), col(textCol)), col(idCol)), Seq(idCol), col(textCol), bits)
        .select(
          col(idCol).as("id"),
          col("simhash").as("sim"),
          shiftright(col("simhash"), bits - prefixBits).as("bucket"),
        )
    )
    requireBoundedGroups(
      bucketed,
      Seq("bucket"),
      maxBucketRows,
      (bucket, n) =>
        s"simhashPairs: prefix bucket $bucket has $n rows (> maxBucketRows=$maxBucketRows): " +
          s"the within-bucket pairing would enumerate ~${n * n / 2} pairs. Raise prefixBits " +
          "(more, smaller buckets) or raise maxBucketRows deliberately.",
    )
    Pin
      .selfJoin(bucketed, Seq("bucket"), col("l.id") < col("r.id"))
      .withColumn("dist", Hashing.hammingDistance(col("l.sim"), col("r.sim")))
      .filter(col("dist") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("dist"))
  }

  /** The recall path for SimHash pairing: candidates agree on the top
    * `prefixBits` of the signature under ANY of `rotations` bit-rotations
    * (rotation offsets spread evenly over `bits`), so a pair is missed only
    * if EVERY rotation puts a differing bit inside the prefix — recall
    * approaches 1 for dist << bits/prefixBits as rotations grow. Same
    * exactly-once discipline as the minhash banding: every rotation's
    * bucket rides along on both join sides and a pair is kept only in its
    * FIRST agreeing rotation — no multi-million-row DISTINCT shuffle. The
    * signature projection is computed once (checkpoint — the self-join must
    * not lean on optional ReuseExchange); the join shuffles
    * (id, sim, `rotations` buckets), never text. Any per-(rotation, bucket)
    * group larger than `maxBucketRows` fails loudly before the join (the
    * [[simhashPairs]] guard, applied per rotation).
    */
  def simhashPairsRotated(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 16,
      prefixBits: Int = 6,
      maxDist: Int = 3,
      rotations: Int = 2,
      maxBucketRows: Long = 100000L,
  ): DataFrame = {
    require(rotations >= 1 && rotations <= bits, s"rotations must be in [1, $bits]: $rotations")
    val mask = (1L << bits) - 1
    def rotl(c: Column, k: Int): Column =
      if (k == 0) c
      else shiftleft(c, k).bitwiseAND(lit(mask)) + shiftright(c, bits - k)
    val sigs = withSimhash(Pin.spread(df.select(col(idCol), col(textCol)), col(idCol)), Seq(idCol), col(textCol), bits)
      .select(
        col(idCol).as("id") +: col("simhash").as("sim") +:
          (0 until rotations).map(r => shiftright(rotl(col("simhash"), r * bits / rotations), bits - prefixBits).as(s"b$r")): _*
      )
      .transform(Lineage.truncate(_))
    val banded = sigs.select(
      col("id") +: col("sim") +: (0 until rotations).map(r => col(s"b$r")) :+
        explode(array((0 until rotations).map(r => struct(lit(r).as("rot"), col(s"b$r").as("bucket"))): _*)).as("rb"): _*
    )
    // Guard the largest per-(rotation, bucket) group: every rotation's
    // bucketing pairs within its own buckets, so ONE collapsed rotation is
    // enough to go B². Counts run over the truncated signature projection —
    // the simhash itself is not recomputed.
    requireBoundedGroups(
      banded.select(col("rb.rot").as("rot"), col("rb.bucket").as("bucket")),
      Seq("rot", "bucket"),
      maxBucketRows,
      (key, n) =>
        s"simhashPairsRotated: (rot, bucket) group ($key) has $n rows (> maxBucketRows=$maxBucketRows): " +
          s"that rotation's within-bucket pairing would enumerate ~${n * n / 2} pairs. Raise prefixBits " +
          "(more, smaller buckets) or raise maxBucketRows deliberately.",
    )
    val firstRotationOnly = (0 until rotations)
      .map { r =>
        val earlierNoMatch = (0 until r).map(r2 => col(s"l.b$r2") =!= col(s"r.b$r2")).foldLeft(lit(true))(_ && _)
        (col("l.rb.rot") === r) && earlierNoMatch
      }
      .reduce(_ || _)
    Pin
      .selfJoin(banded, Seq("rb"), col("l.id") < col("r.id"))
      .filter(firstRotationOnly)
      .withColumn("dist", Hashing.hammingDistance(col("l.sim"), col("r.sim")))
      .filter(col("dist") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("dist"))
  }

  /** Generic Hamming near-neighbor pairing over a PRECOMPUTED bit
    * signature column — the [[simhashPairs]] shape decoupled from text:
    * callers bring their own 64-bit (or narrower) signature (a perceptual
    * image hash from [[Multimodal.imageAHash]], an audio fingerprint, any
    * locality-preserving bit sketch) and get the same bucketed-equi-join
    * plan: prefix bucket (the top `prefixBits` under an UNSIGNED shift —
    * bit-63 signatures must not land in a sign-smeared bucket), loud
    * [[requireBoundedGroups]] pre-flight, within-bucket equi-join, exact
    * popcount Hamming filter. Recall: a true pair is missed only when a
    * differing bit falls inside the prefix — for tighter recall at the
    * same cost model, rotate upstream (the [[simhashPairsRotated]]
    * pattern) or band the signature into `64/prefixBits` keys.
    *
    * Scale: shuffles (id, sig) only — payloads were dropped at the
    * signature boundary; the join is bucket-local; output is
    * candidate-sized, never all-pairs.
    */
  def hammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      bits: Int = 64,
      prefixBits: Int = 12,
      maxDist: Int = 5,
      maxBucketRows: Long = 100000L,
  ): DataFrame = {
    require(bits >= 1 && bits <= 64, s"hammingPairs: bits must be in [1, 64]: $bits")
    require(
      prefixBits >= 1 && prefixBits < bits,
      s"hammingPairs: prefixBits must be in [1, $bits): $prefixBits",
    )
    val bucketed = Lineage.truncate(
      sigs.select(
        col(idCol).as("id"),
        col(sigCol).cast("long").as("sim"),
        shiftrightunsigned(col(sigCol).cast("long"), bits - prefixBits).as("bucket"),
      )
    )
    requireBoundedGroups(
      bucketed,
      Seq("bucket"),
      maxBucketRows,
      (bucket, n) =>
        s"hammingPairs: prefix bucket $bucket has $n rows (> maxBucketRows=$maxBucketRows): " +
          s"the within-bucket pairing would enumerate ~${n * n / 2} pairs. Raise prefixBits " +
          "(more, smaller buckets) or raise maxBucketRows deliberately.",
    )
    Pin
      .selfJoin(bucketed, Seq("bucket"), col("l.id") < col("r.id"))
      .withColumn("dist", Hashing.hammingDistance(col("l.sim"), col("r.sim")))
      .filter(col("dist") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("dist"))
  }

  /** [[hammingPairs]] with ROTATED prefix bands — the
    * [[simhashPairsRotated]] recall pattern decoupled from text, for
    * full-width 64-bit signatures: a single prefix bucket misses every
    * true pair whose differing bit lands in the prefix; rotation `r`
    * re-buckets on the prefix of `rotl(sig, r·64/rotations)`, so a pair
    * is missed only when EVERY band's window contains a flipped bit —
    * miss probability falls geometrically in `rotations` (measured on
    * the q266 fixture: 1 band 495/500 clip pairs, 2 bands 500/500).
    * Pairs matching several bands are emitted ONCE (first-band-wins
    * dedup inside the join, the rotated-simhash rule); the per-(band,
    * bucket) [[requireBoundedGroups]] guard applies to every band.
    */
  def hammingPairsRotated(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      prefixBits: Int = 12,
      maxDist: Int = 5,
      rotations: Int = 2,
      maxBucketRows: Long = 100000L,
  ): DataFrame = {
    require(prefixBits >= 1 && prefixBits < 64, s"hammingPairsRotated: prefixBits must be in [1, 64): $prefixBits")
    require(
      rotations >= 1 && 64 % rotations == 0,
      s"hammingPairsRotated: rotations must divide 64: $rotations",
    )
    def rotl(c: Column, k: Int): Column =
      if (k == 0) c else shiftleft(c, k).bitwiseOR(shiftrightunsigned(c, 64 - k))
    val sig = col(sigCol).cast("long")
    val banded = Lineage.truncate(
      sigs.select(
        col(idCol).as("id") +: sig.as("sim") +:
          (0 until rotations).map(r =>
            shiftrightunsigned(rotl(sig, r * 64 / rotations), 64 - prefixBits).as(s"b$r")
          ): _*
      )
    )
    val exploded = banded.select(
      col("id") +: col("sim") +: (0 until rotations).map(r => col(s"b$r")) :+
        explode(array((0 until rotations).map(r => struct(lit(r).as("rot"), col(s"b$r").as("bucket"))): _*)).as("rb"): _*
    )
    requireBoundedGroups(
      exploded.select(col("rb.rot").as("rot"), col("rb.bucket").as("bucket")),
      Seq("rot", "bucket"),
      maxBucketRows,
      (key, n) =>
        s"hammingPairsRotated: (rot, bucket) group ($key) has $n rows (> maxBucketRows=$maxBucketRows): " +
          s"that band's within-bucket pairing would enumerate ~${n * n / 2} pairs. Raise prefixBits " +
          "(more, smaller buckets) or raise maxBucketRows deliberately.",
    )
    val firstRotationOnly = (0 until rotations)
      .map { r =>
        val earlierNoMatch = (0 until r).map(r2 => col(s"l.b$r2") =!= col(s"r.b$r2")).foldLeft(lit(true))(_ && _)
        (col("l.rb.rot") === r) && earlierNoMatch
      }
      .reduce(_ || _)
    Pin
      .selfJoin(exploded, Seq("rb"), col("l.id") < col("r.id"))
      .filter(firstRotationOnly)
      .withColumn("dist", Hashing.hammingDistance(col("l.sim"), col("r.sim")))
      .filter(col("dist") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("dist"))
  }

  /** The dedup signature index of a corpus: per doc `(id, __h, toks,
    * mh0..mh{k-1})` — content hash for the exact path, hashed token set for
    * the Jaccard verify, MinHash signature for the LSH banding. One
    * map-only projection (every token md5-hashed ONCE, the k permutation
    * minima folded over the hashed set — bit-identical to [[withMinhash]]),
    * zero shuffle: the index build streams at scan speed. Docs with an
    * empty token set carry `toks = []` and null signatures (they can't
    * near-dup; the exact path still covers them).
    *
    * This is the persistable artifact of the incremental-dedup workflow:
    * [[saveDedupIndex]] it once per corpus and every daily increment pays
    * only ITS OWN signature pass ([[dedupIncrementWithIndex]]) — at 100 TB
    * recomputing corpus signatures per batch IS the whole cost.
    */
  def buildDedupIndex(docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val mh = Hashing.minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("toks"), h => (lit(a) * (h % Hashing.P) + lit(b)) % Hashing.P)).as(s"mh$i")
    }
    // [[Pin.spread]] is a NO-OP on any real multi-split corpus, so the
    // zero-shuffle scan-speed contract above holds at scale; on a
    // degenerate single-split input it buys the signature pass the
    // session's parallelism for one tiny (id, text) exchange.
    Pin
      .spread(docs.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(
        col("id"),
        Hashing.hash64(col("__txt")).as("__h"),
        TextAnalysis.hashedTokenSet(col("__txt")).as("toks"),
      )
      .select(Seq(col("id"), col("__h"), col("toks")) ++ mh: _*)
  }

  /** Persist a [[buildDedupIndex]] table (plain parquet — fixed-width longs
    * + the hashed token arrays; no text leaves the corpus).
    */
  def saveDedupIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  private def indexColumns(k: Int): Seq[String] =
    Seq("id", "__h", "toks") ++ (0 until k).map(i => s"mh$i")

  /** The loud column-set check shared by [[loadDedupIndex]] and
    * [[appendDedupIndex]]: exact set match against the canonical `k`-wide
    * shape — extras are rejected, not ignored.
    */
  private def requireIndexColumns(context: String, actual: Seq[String], k: Int): Unit = {
    val expected = indexColumns(k)
    val missing = expected.filterNot(actual.contains)
    val extras = actual.filterNot(expected.contains)
    require(
      missing.isEmpty && extras.isEmpty,
      s"$context: columns ${actual.mkString(",")} — " +
        (if (missing.nonEmpty) s"missing ${missing.mkString(",")}; " else "") +
        (if (extras.nonEmpty) s"unexpected ${extras.mkString(",")}; " else "") +
        s"(index built with a different k than $k?)",
    )
  }

  /** Append new docs' signatures to a persisted index — the
    * end-of-batch step of the standing pipeline: after an increment is
    * deduped and ACCEPTED, its signatures join the corpus index so the
    * next batch dedups against it too. Parquet append (new files only —
    * never rewrites the existing index), so the update cost is the
    * increment's size, not the corpus's.
    *
    * The appended frame's column set is validated against the STORED
    * index's before any file is written: [[loadDedupIndex]]'s own check
    * inspects a single parquet footer, so a different-`k` append would
    * otherwise produce heterogeneous files whose missing mh columns read
    * back as NULLs — silently excluded from the near-dup path (silent
    * under-dedup, the worst failure mode an index can have).
    *
    * `batchId` opts into the REPLAY-IDEMPOTENT landing (pass the
    * foreachBatch batch id): the increment stages to scratch, any prior
    * landing of the same batch is swept, and the files land under
    * `batch<id>-` names — so a checkpoint replay (crash between the
    * landing and the checkpoint commit) converges to the identical final
    * state instead of silently doubling the batch's signatures, which
    * under-dedups nothing but makes every later near-dup verify pay the
    * duplicate candidates. A streaming writer MUST pass it; the plain
    * append remains for one-shot batch jobs with no replay semantics.
    *
    * Two CONCURRENCY transients, shared with the ANN landing and worth
    * naming: (1) the landing mutates the live dir non-atomically (prior
    * batch files swept, then parts renamed in), so a whole-dir
    * [[loadDedupIndex]] racing a REPLAY may see the batch partially —
    * plain-dir reads and landings are the single-writer/rename-mode
    * world; concurrent readers belong on the manifest mode's snapshot
    * loads. (2) On a manifest index, a replay's sweep supersedes files
    * the pre-crash generation still references; until the re-commit
    * publishes the healed refs, a snapshot reader resolving THAT
    * generation can fail on the swept batch — a crash-recovery
    * transient (the replay exists only because the checkpoint never
    * committed), not a steady state.
    *
    * Append forever and the index degrades to file-listing-bound loads:
    * run [[compactDedupIndex]] on the cadence the batch count dictates
    * (with the watermark when batch landings exist).
    */
  def appendDedupIndex(index: DataFrame, path: String, batchId: Option[Long] = None): Unit = {
    val k = index.columns.count(_.startsWith("mh"))
    requireIndexColumns(s"appendDedupIndex: incoming frame for $path", index.columns.toSeq, k)
    val stored =
      try Some(index.sparkSession.read.parquet(path).columns.toSeq)
      catch { case _: org.apache.spark.sql.AnalysisException => None } // first write: append creates
    stored.foreach(requireIndexColumns(s"appendDedupIndex: stored index at $path", _, k))
    batchId match {
      case None =>
        // Structural composition rule (the ANN index's, mirrored): a
        // MANIFEST index accepts only batch-keyed landings — a plain
        // append carries no replay key for a commit to reference or heal.
        require(
          manifest(index.sparkSession, path).gens.isEmpty,
          s"appendDedupIndex: $path is MANIFEST-committed - a manifest commit needs the landing's " +
            "replay key, which only a batch-keyed landing carries. Pass batchId = Some(<the ingest " +
            "batch id>) and commit via commitDedupBatchToManifest.",
        )
        index.write.mode("append").parquet(path)
      case Some(b) =>
        // BATCH-KEYED landing — the replay-idempotency protocol the ANN
        // index proved ([[graft.operators.IvfIndex.appendToAdcIndex]]),
        // ported because this is the repo's other durable artifact and a
        // foreachBatch writer replaying a plain append would double its
        // rows silently. The increment stages to a sibling scratch, any
        // PRIOR landing of this same batch is swept (a crash mid-landing
        // or a checkpoint replay re-delivers identical rows — the
        // foreachBatch contract), and the parts land under
        // `batch<id>-<part>` names so the landing is detectable,
        // sweepable, and retainable by name. The index is one flat dir,
        // so the sweep is a single directory listing — no O(cells) bound
        // to manage.
        val spark = index.sparkSession
        val live = new org.apache.hadoop.fs.Path(path)
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Scratch INSIDE the index dir (underscore name — invisible to
        // plain parquet reads), so a crashed landing's staged copy is
        // inside the reach of [[cleanupDedupGenerations]]' vacuum instead
        // of leaking as an unowned sibling forever (the ANN landing's
        // codes_append_tmp_b<id> rule).
        val scratch = new org.apache.hadoop.fs.Path(s"$path/${Manifest.scratchName("_append_tmp", s"b$b")}")
        index.write.mode("overwrite").parquet(scratch.toString)
        if (fs.exists(live))
          fs.listStatus(live)
            .filter(f => f.isFile && f.getPath.getName.startsWith(s"batch$b-"))
            .foreach(f => fs.delete(f.getPath, false))
        fs.mkdirs(live)
        fs.listStatus(scratch)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            val target = new org.apache.hadoop.fs.Path(live, s"batch$b-${f.getPath.getName}")
            require(fs.rename(f.getPath, target), s"appendDedupIndex: landing rename failed for $target")
          }
        fs.delete(scratch, true): Unit
    }
  }

  /** Load a persisted dedup index, failing loudly on a schema mismatch
    * (e.g. an index built with a different `k`). The column SET must match
    * exactly — extras are rejected, not ignored — and the result is
    * re-selected into canonical column order, because the downstream union
    * with the increment's index is positional: a reordered-but-same-set
    * parquet would otherwise align `id` with `__h` silently.
    */
  def loadDedupIndex(spark: SparkSession, path: String, k: Int = 8): DataFrame = {
    // A manifest index's live dir holds DE-referenced files between a
    // manifest compaction and its cleanup — a whole-dir read would count
    // those signatures twice. Same refusal rule as the ANN index's
    // adcTopKFromIndex: resolve manifest indexes via loadDedupIndexSnapshot.
    manifest(spark, path).requireAbsent("loadDedupIndex")
    val df = spark.read.parquet(path)
    requireIndexColumns(s"loadDedupIndex: $path", df.columns.toSeq, k)
    df.select(indexColumns(k).map(col): _*)
  }

  /** Compact an append-accumulated index in place: read (schema-checked),
    * coalesce to `targetFiles`, rewrite, atomic-swap. A daily
    * [[appendDedupIndex]] cadence otherwise accumulates thousands of small
    * parquet files and every [[loadDedupIndex]] degrades to
    * file-listing-bound — compaction cost is one linear rewrite of the
    * index (fixed-width longs, no text), amortized over the batches since
    * the last one.
    *
    * Replay-idempotency watermark (`minRetainedBatchId`, same protocol
    * the ANN index pins in q273): batch-keyed landings at or above the
    * watermark keep their `batch<id>-` replay names (neither rewritten
    * nor scanned), batches below it are checkpoint-committed and
    * compacted; rewriting a batch landing with NO watermark is a loud
    * refusal. An all-retained census is a legal nightly state and
    * no-ops.
    *
    * Swap discipline: the compacted copy is fully written to a sibling tmp
    * dir BEFORE any rename; the old index is moved aside, the tmp renamed
    * in, and the old copy deleted only after — on a failed second rename
    * the original is restored, so no failure mode leaves the path empty.
    * (Directory rename is atomic on HDFS and POSIX; on object stores it is
    * copy-based — run compaction from a single writer there, which a
    * standing pipeline's end-of-batch step already is, or use the
    * manifest-commit mode, [[compactDedupIndexManifest]] — add-only
    * writers, one generation object per commit, reference-set cleanup.)
    */
  def compactDedupIndex(
      spark: SparkSession,
      path: String,
      k: Int = 8,
      targetFiles: Int = 8,
      minRetainedBatchId: Option[Long] = None,
  ): Unit = {
    require(targetFiles >= 1, s"compactDedupIndex: targetFiles must be >= 1: $targetFiles")
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifest(spark, path).requireAbsent("compactDedupIndex")
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val names = fs
      .listStatus(hp(path))
      .toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
      .sorted
    require(names.nonEmpty, s"compactDedupIndex: no parquet files under $path")
    // The replay-idempotency watermark, same semantics the ANN-index
    // compactor pins (q273): batch landings at or above the watermark are
    // RETAINED under their replay names (a replay must find and supersede
    // its own files — rewriting them would turn the replay into silent
    // double rows), batches below it are checkpoint-committed and
    // compactable. Rewriting any batch landing with NO watermark is a
    // loud refusal, not a Scaladoc caveat.
    val (retained, eligible) = names.partition(n =>
      Manifest.batchIdOfLanding(n).exists(id => minRetainedBatchId.exists(id >= _)))
    if (minRetainedBatchId.isEmpty) {
      val unfenced = eligible.flatMap(Manifest.batchIdOfLanding).distinct.sorted
      require(
        unfenced.isEmpty,
        s"compactDedupIndex: about to rewrite batch landings that may still replay (batchId): " +
          s"${unfenced.mkString(", ")} - binning them drops the batch<id>- file names their " +
          "replay-idempotency keys on. Pass minRetainedBatchId = Some(w) (the ingest checkpoint's " +
          "committed offset), or Some(maxBatchId + 1) when every batch is known committed.",
      )
    }
    // Every file watermark-retained: a legal nightly state — no-op.
    if (eligible.isEmpty) return
    val eligibleFiles = eligible.map(n => s"$path/$n")
    val idx = spark.read.parquet(eligibleFiles: _*)
    requireIndexColumns(s"compactDedupIndex: $path", idx.columns.toSeq, k)
    val tmp = path + ".compacting"
    val bak = path + ".precompact"
    idx.select(indexColumns(k).map(col): _*).coalesce(targetFiles).write.mode("overwrite").parquet(tmp)
    // Row-count gate from parquet FOOTERS (exact metadata the files carry)
    // — the two spark count() jobs here re-scanned the eligible set and
    // the rewrite purely to compare cardinalities.
    val inRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, eligibleFiles)
    val outRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, Seq(tmp))
    require(
      outRows == inRows,
      s"compactDedupIndex: rewrite row count $outRows != input $inRows - " +
        "aborting before the swap; the index is untouched.",
    )
    // Retained landings carry into the replacement UNDER THEIR REPLAY
    // NAMES — copied, not renamed: the live dir must stay complete until
    // the swap (a failed swap restores it whole).
    retained.foreach { n =>
      require(
        org.apache.hadoop.fs.FileUtil.copy(fs, hp(s"$path/$n"), fs, hp(s"$tmp/$n"), false,
          spark.sparkContext.hadoopConfiguration),
        s"compactDedupIndex: retained-landing copy failed for $path/$n",
      )
    }
    fs.delete(hp(bak), true)
    if (!fs.rename(hp(path), hp(bak)))
      throw new IllegalStateException(s"compactDedupIndex: could not move $path aside to $bak")
    if (!fs.rename(hp(tmp), hp(path))) {
      fs.rename(hp(bak), hp(path))
      throw new IllegalStateException(s"compactDedupIndex: could not move $tmp into place; original restored")
    }
    fs.delete(hp(bak), true): Unit
  }

  // ----------------------------------------------------------------------
  // MANIFEST-COMMIT mode for the dedup index — the object-store
  // alternative to [[compactDedupIndex]]'s rename-aside swap: the
  // generation chain of [[Manifest]] over this index's flat layout, under
  // `_manifest/` (an underscore name, so plain parquet readers ignore it).
  // ----------------------------------------------------------------------

  private[graft] val ManifestLayout =
    Manifest.Layout("dedup", "_manifest", "sig", cellsUnder = None, bootstrap = "writeDedupManifest")

  /** The manifest generation chain of the dedup index at `path`. */
  private[graft] def manifest(spark: SparkSession, path: String): Manifest.Chain =
    new Manifest.Chain(spark, path, ManifestLayout)

  /** BOOTSTRAP the manifest: census the live flat dir into generation 0.
    * Only legal while no generation exists and the dir was never
    * rewritten in place (a census over a dir holding de-referenced files
    * would re-reference them). Call once after [[saveDedupIndex]]; every
    * later generation comes from an op that knows its delta.
    */
  def writeDedupManifest(spark: SparkSession, path: String): Long =
    manifest(spark, path).bootstrap("writeDedupManifest")

  /** Commit a landed batch ([[appendDedupIndex]] with `batchId`) into the
    * next generation: previous refs, minus any refs this SAME batch wrote
    * before (a replay re-lands under fresh part names — the re-commit
    * heals the dangling refs), plus the batch's files now on disk. The
    * index is one flat dir, so the listing is a single directory listing.
    */
  def commitDedupBatchToManifest(spark: SparkSession, path: String, batchId: Long): Long =
    manifest(spark, path).commitBatch("commitDedupBatchToManifest", batchId)

  /** [[compactDedupIndex]] in MANIFEST mode: the census comes from the
    * latest generation's refs (pure metadata), the rewrite lands under
    * fresh `m<gen>bin-…` names NEXT TO the files it supersedes (nothing
    * deleted, no dir swap), and the commit is one generation object
    * referencing the bins plus the watermark-retained landings. Same
    * watermark semantics, same unfenced refusal, same all-retained no-op,
    * same row-count gate as the rename-mode compactor.
    *
    * `coverageGuard` (opt-in, for dual-artifact deployments): the ANN
    * index dir whose chain must COVER every batch id this compaction is
    * about to fold — [[Consistency.requireFoldCovered]]'s loud gate,
    * fired before any rewrite. Folding records every folded batch id in
    * the chain's folded-id set ([[Manifest.Chain.foldedBatches]]) either
    * way, so the census stays sound across the fold.
    */
  def compactDedupIndexManifest(
      spark: SparkSession,
      path: String,
      k: Int = 8,
      targetFiles: Int = 8,
      minRetainedBatchId: Option[Long] = None,
      coverageGuard: Option[String] = None,
  ): (Long, Long) = {
    require(targetFiles >= 1, s"compactDedupIndexManifest: targetFiles must be >= 1: $targetFiles")
    val chain = manifest(spark, path)
    val fs = chain.fs
    val parent = chain.head("compactDedupIndexManifest")
    val refs = chain.refs(parent)
    val names = chain.data(refs).map(_.name).sorted
    val (retained, eligible) = names.partition(n =>
      Manifest.batchIdOfLanding(n).exists(id => minRetainedBatchId.exists(id >= _)))
    if (minRetainedBatchId.isEmpty) {
      val unfenced = eligible.flatMap(Manifest.batchIdOfLanding).distinct.sorted
      require(
        unfenced.isEmpty,
        s"compactDedupIndexManifest: about to rewrite batch landings that may still replay (batchId): " +
          s"${unfenced.mkString(", ")} - pass minRetainedBatchId = Some(w) (the ingest checkpoint's " +
          "committed offset), or Some(maxBatchId + 1) when every batch is known committed.",
      )
    }
    // Nothing eligible to bin (all retained, or already one bin's worth):
    // an idempotent nightly compactor commits NOTHING. The (before, after)
    // file counts are returned either way so a caller (ScaleBench's row,
    // an operator's log line) can tell a measured rewrite from a no-op.
    if (eligible.isEmpty || eligible.size <= targetFiles) return (names.size.toLong, names.size.toLong)
    // The batch ids about to LOSE their names: the cross-artifact gate
    // (opt-in) refuses before any rewrite if the other chain never
    // covered one; the commit records them in the folded-id set.
    val foldedIds = eligible.flatMap(Manifest.batchIdOfLanding)
    coverageGuard.foreach(annDir =>
      Consistency.requireFoldCovered("compactDedupIndexManifest", foldedIds, IvfIndex.manifest(spark, annDir)))
    val newGen = parent + 1
    val eligibleFiles = eligible.map(n => s"$path/$n")
    val idx = spark.read.parquet(eligibleFiles: _*)
    requireIndexColumns(s"compactDedupIndexManifest: $path", idx.columns.toSeq, k)
    // UUID-unique scratch — the chain commit's rule: concurrent ops never
    // share a staging path.
    val scratch = s"$path/${Manifest.scratchName("_mcompact_tmp", java.util.UUID.randomUUID().toString)}"
    idx.select(indexColumns(k).map(col): _*).coalesce(targetFiles).write.mode("overwrite").parquet(scratch)
    // Row-count gate from parquet FOOTERS — see compactDedupIndex above.
    val inRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, eligibleFiles)
    val outRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, Seq(scratch))
    require(
      outRows == inRows,
      s"compactDedupIndexManifest: rewrite row count $outRows != input $inRows - " +
        "aborting before anything is committed; the index is untouched.",
    )
    // Land the bins under fresh names — invisible until the generation
    // commits; a crash here leaves never-referenced files the orphan
    // sweep reclaims once the chain passes this generation.
    val binRefs = fs
      .listStatus(new org.apache.hadoop.fs.Path(scratch))
      .toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val target = new org.apache.hadoop.fs.Path(path, s"m${newGen}bin-${f.getPath.getName}")
        require(fs.rename(f.getPath, target), s"compactDedupIndexManifest: bin move failed for $target")
        Manifest.Ref("sig", -1, target.getName, fs.getFileStatus(target).getLen)
      }
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    val retainedSet = retained.toSet
    chain.commitCompaction(parent, refs, chain.data(refs).filter(r => retainedSet(r.name)) ++ binRefs, foldedIds)
    (names.size.toLong, (retained.size + binRefs.size).toLong)
  }

  /** Sweep DE-referenced files (referenced by a generation beyond the
    * `keepGens` window, by no retained one) plus crashed-op ORPHANS the
    * chain has passed (`m<gen>bin-` files with gen at or below the head
    * yet referenced by NO generation — a compactor that crashed before
    * its commit or lost the commit race); files whose gen is AHEAD of
    * the head are spared as possibly in flight, and plain `batch<id>-`
    * landings referenced by nothing are in-flight landings — never
    * touched. Crashed-op scratch (`_manifest_tmp`, `_mcompact_tmp`,
    * `_append_tmp`) older than `scratchGraceMs` goes too. Returns the
    * deleted-file count. See [[Manifest.Chain.cleanup]].
    */
  def cleanupDedupGenerations(
      spark: SparkSession,
      path: String,
      keepGens: Int = 2,
      scratchGraceMs: Long = 15L * 60L * 1000L,
  ): Long =
    manifest(spark, path).cleanup("cleanupDedupGenerations", keepGens, scratchGraceMs)

  /** What one standing-maintenance tick did — [[maintainDedupIndexManifest]]'s
    * report, for the caller's log line and the in-query gates.
    */
  final case class DedupMaintenanceReport(
      filesBefore: Long,
      filesAfter: Long,
      compacted: Boolean,
      sweptFiles: Long,
  )

  /** The dedup chain's STANDING-MAINTENANCE rule, and the piece that
    * completes the nightly loop q287 exercises (ingest →
    * staleness-bounded republish): one tick reads the head generation's
    * refs and decides whether the chain itself needs work this cadence.
    *
    *  - COMPACT when the referenced signature-file count reaches
    *    `maxFiles` — file count is the snapshot load's degradation
    *    metric (one parquet footer per file per load), readable from
    *    the head's refs alone. Below the bound the compactor is not
    *    even invoked, so an idle tick never grows the chain (the
    *    compactor's own not-enough-to-bin pass also commits nothing —
    *    the bound is an ADMISSION rule, not a correctness one).
    *  - SWEEP last ([[cleanupDedupGenerations]]), with retention
    *    widened by the generations this tick itself committed
    *    ([[Manifest.Chain.keepFor]]).
    *
    * Both levers keep their own fences (the replay watermark, the two
    * commit fences, the reader grace); the tick adds the bound and the
    * ordering. A DUAL-ARTIFACT deployment passes `coverageGuard` (the
    * ANN index dir) so the compactor refuses to fold any batch the other
    * chain never covered ([[Consistency.requireFoldCovered]]) — the
    * cross-artifact census's window discipline enforced, not documented.
    * Every hop is content-invisible ([[dedupChainDiff]]-empty
    * by construction), so q290 shares q124's oracle verbatim. Returns
    * what actually ran — `compacted` is true only if a generation
    * committed.
    */
  def maintainDedupIndexManifest(
      spark: SparkSession,
      path: String,
      k: Int = 8,
      minRetainedBatchId: Option[Long] = None,
      maxFiles: Int = 16,
      targetFiles: Int = 8,
      keepGens: Int = 2,
      coverageGuard: Option[String] = None,
  ): DedupMaintenanceReport = {
    require(maxFiles >= 1, s"maintainDedupIndexManifest: maxFiles must be >= 1: $maxFiles")
    val chain = manifest(spark, path)
    val headAtEntry = chain.head("maintainDedupIndexManifest")
    val filesBefore = chain.data(chain.refs(headAtEntry)).size.toLong
    var filesAfter = filesBefore
    if (filesBefore >= maxFiles) {
      filesAfter = compactDedupIndexManifest(spark, path, k, targetFiles, minRetainedBatchId,
        coverageGuard)._2
    }
    val keep = chain.keepFor(keepGens, headAtEntry)
    val swept = cleanupDedupGenerations(spark, path, keep)
    DedupMaintenanceReport(filesBefore, filesAfter, keep > keepGens, swept)
  }

  /** [[loadDedupIndex]] from a MANIFEST snapshot: resolve a generation
    * (latest by default, or pinned), read exactly its file set, same
    * loud schema check and canonical column order. Immune to concurrent
    * commits — a compaction landing mid-read changes what the NEXT
    * resolution sees, never this one's (its files outlive it by the
    * cleanup grace).
    */
  def loadDedupIndexSnapshot(
      spark: SparkSession,
      path: String,
      k: Int = 8,
      gen: Option[Long] = None,
  ): DataFrame = {
    val chain = manifest(spark, path)
    val g = chain.resolve("loadDedupIndexSnapshot", gen)
    val df = spark.read.parquet(chain.data(chain.refs(g)).map(chain.path): _*)
    requireIndexColumns(s"loadDedupIndexSnapshot: $path gen $g", df.columns.toSeq, k)
    df.select(indexColumns(k).map(col): _*)
  }

  /** CONTENT DIFF between two generations of a manifest dedup index — the
    * audit primitive a standing pipeline needs ("which documents did
    * generation g add or remove?") and the invariant probe ("did that
    * maintenance op change WHAT the index says, or only how it is
    * laid out?"). Returns (op = 'added' | 'removed', id, __h), one row
    * per signature present in exactly one generation's content.
    * SET semantics over the residual file sides, with one scoped
    * multiset escape: if a caller re-lands an already-indexed signature
    * (a pipeline-contract violation nothing structurally refuses), the
    * new COPY surfaces as 'added' ONLY on diffs whose residual sides
    * still hold the copy — the per-hop diff over the landing's own
    * commit, before any rewrite. A diff SPANNING a compaction reads
    * both full rewritten sides and the anti-join collapses copy-count
    * changes — the duplicate is invisible there. Audit duplicate
    * landings hop-by-hop (the shape the standing pipeline runs anyway);
    * cross-compaction diffs answer set membership only.
    *
    * Scale design: the ref sets are metadata (one row per FILE); only
    * files referenced by exactly ONE side are read — a batch commit's
    * diff costs the batch's files, never the corpus — and the two
    * residual sides resolve with one anti-join each on (id, __h). A
    * COMPACTION's diff does read both rewrites (the file sets are
    * disjoint by construction — that IS the corpus), and returns empty:
    * compaction, repair, and cleanup are content-invisible, which makes
    * this the cheapest possible "the maintenance op changed nothing"
    * gate an operator can run after any chain hop.
    */
  def dedupChainDiff(
      spark: SparkSession,
      path: String,
      fromGen: Long,
      toGen: Long,
      k: Int = 8,
  ): DataFrame = {
    val chain = manifest(spark, path)
    def namesOf(g: Long) = chain.data(chain.refs(chain.resolve("dedupChainDiff", Some(g)))).map(_.name).toSet
    val fromNames = namesOf(fromGen)
    val toNames = namesOf(toGen)
    // An empty side keeps the INDEX's schema (id may be long or string):
    // read the generation's own files and limit(0) — one footer, no rows.
    def rowsOf(names: Set[String], genAll: Set[String]): DataFrame = {
      val src = if (names.nonEmpty) names else genAll // genAll nonempty: sig-empty gens refuse to commit
      val df = spark.read.parquet(src.toSeq.sorted.map(n => s"$path/$n"): _*)
      requireIndexColumns(s"dedupChainDiff: $path", df.columns.toSeq, k)
      val sel = df.select(col("id"), col("__h"))
      if (names.nonEmpty) sel else sel.limit(0)
    }
    // Shared files contribute identical rows to both sides — only the
    // symmetric difference of the FILE sets is ever read.
    val onlyFrom = rowsOf(fromNames -- toNames, fromNames)
    val onlyTo = rowsOf(toNames -- fromNames, toNames)
    onlyTo
      .join(onlyFrom, Seq("id", "__h"), "left_anti")
      .select(lit("added").as("op"), col("id"), col("__h"))
      .unionAll(
        onlyFrom
          .join(onlyTo, Seq("id", "__h"), "left_anti")
          .select(lit("removed").as("op"), col("id"), col("__h")))
  }

  /** Incremental dedup: from `incoming`, drop every doc that duplicates the
    * EXISTING corpus — exact (content hash) or near (the verified MinHash+
    * LSH path) — and keep the rest. This is the production dedup workflow at
    * scale: a daily crawl increment dedups AGAINST the corpus, it never
    * re-dedups the corpus itself (within-increment near-dups are a separate
    * [[curate]]-style pass by design — this operator's contract is purely
    * incoming-vs-existing). CONTRACT: `idCol` values must be disjoint
    * between the two sides (guarded loudly — a shared id would make the
    * pair orientation ambiguous and the drop set wrong).
    *
    * Scale design: the exact path ships only 8-byte content hashes into the
    * anti-join; the near path keeps only CROSS-side candidate pairs
    * (existing×existing pairs are filtered before the expensive Jaccard
    * verify). Both sides' signature work is a [[buildDedupIndex]]
    * projection; on a standing pipeline build the existing side's index
    * ONCE ([[saveDedupIndex]]) and call [[dedupIncrementWithIndex]] per
    * batch so only the increment's signatures are computed.
    */
  def dedupIncrement(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.8,
      minAgree: Int = 4,
      checkDisjointIds: Boolean = true,
  ): DataFrame =
    dedupIncrementWithIndex(
      buildDedupIndex(existing, idCol, textCol, k),
      incoming,
      idCol,
      textCol,
      k,
      bands,
      threshold,
      minAgree,
      checkDisjointIds,
    )

  /** [[dedupIncrement]] against a prebuilt/loaded existing-side index — the
    * steady-state form: the corpus pays its signature pass once, each
    * increment pays only its own.
    */
  def dedupIncrementWithIndex(
      existingIndex: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.8,
      minAgree: Int = 4,
      checkDisjointIds: Boolean = true,
  ): DataFrame =
    dedupIncrementCore(existingIndex, buildDedupIndex(incoming, idCol, textCol, k), k, bands, threshold, minAgree, checkDisjointIds)
      .withColumnRenamed("id", idCol)

  private def dedupIncrementCore(
      exIndex: DataFrame,
      incIndex: DataFrame,
      k: Int,
      bands: Int,
      threshold: Double,
      minAgree: Int,
      checkDisjointIds: Boolean,
  ): DataFrame = {
    // Disjoint-id contract, guarded loudly. HONEST COST: this is an
    // id-only equi-join of both sides (the ids shuffle even though limit(1)
    // short-circuits the result stage) — at standing-pipeline scale where
    // the id scheme guarantees disjointness by construction (e.g. crawl
    // date in the id), pass checkDisjointIds = false and skip it.
    if (checkDisjointIds) {
      val shared = exIndex.select(col("id")).join(incIndex.select(col("id")), "id").limit(1).collect()
      if (shared.nonEmpty) {
        throw new IllegalStateException(
          s"dedupIncrement: id '${shared.head.get(0)}' appears on BOTH sides — existing and incoming " +
            "ids must be disjoint (a shared id makes the pair orientation and the drop set ambiguous)."
        )
      }
    }
    // One materialized side-tagged index feeds the banding, the verify, and
    // the exact-hash path — each side's md5 work runs exactly once.
    val union = Lineage.truncate(
      exIndex.withColumn("__side", lit(0)).unionAll(incIndex.withColumn("__side", lit(1)))
    )
    val sigs = union
      .filter(col("mh0").isNotNull)
      .select(Seq(col("id"), col("__side")) ++ (0 until k).map(i => col(s"mh$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"l.mh$i") === col(s"r.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    // orient pairs (existing, incoming) — jaccard is symmetric, so after the
    // verify the drop id is simply id_b; same-side candidates drop BEFORE
    // the expensive hashed-set Jaccard verify ever runs
    val crossCandidates = bandedPairsOfSigs(sigs, k, bands)
      .filter(agree >= minAgree)
      .filter(col("l.__side") =!= col("r.__side"))
      .select(
        when(col("l.__side") === 0, col("l.id")).otherwise(col("r.id")).as("id_a"),
        when(col("l.__side") === 1, col("l.id")).otherwise(col("r.id")).as("id_b"),
      )
    val dropNear = jaccardVerifyToks(crossCandidates, union.select(col("id"), col("toks")), threshold)
      .select(col("id_b").as("id"))
    incIndex
      .join(exIndex.select(col("__h")).distinct(), Seq("__h"), "left_anti")
      .join(dropNear, Seq("id"), "left_anti")
      .select(col("id"))
  }

  // ----------------------------------------------------------------------
  // BUCKETED steady-state serve — the corpus side of the standing
  // increment-dedup pipeline persisted as co-located catalog tables.
  // [[dedupIncrementWithIndex]] is already signature-incremental (the
  // corpus signs once), but every batch still SHUFFLES the corpus
  // signature rows: the banding self-join exchanges the unioned sig set
  // on the band key, per batch. At 100 TB-corpus scale that exchange IS
  // the nightly bill. The bucketed layout pays it once at publish time:
  // each serve join's corpus side is bucketed BY THAT JOIN'S KEY, so per
  // batch the corpus is scanned (fixed-width signature rows — no text)
  // but never exchanged; only the batch's own rows shuffle, and the
  // exchange-free plan is spec-pinned, not hoped for.
  // ----------------------------------------------------------------------

  private def bandKeyCols(rowsPerBand: Int): Seq[String] =
    "band" +: (0 until rowsPerBand).map(i => s"k$i")

  // One row per (band, band-key, id) — the same band keys
  // [[bandedPairsOfSigs]] derives, flattened to plain columns so they can
  // be bucket columns. Null-signature rows (empty token sets) carry no
  // bands, mirroring the core's `mh0.isNotNull` filter.
  private def bandRows(index: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandStructs = (0 until bands).map { b =>
      val keys = (b * rowsPerBand until (b + 1) * rowsPerBand).zipWithIndex.map { case (i, j) =>
        col(s"mh$i").as(s"k$j")
      }
      struct((lit(b).as("band") +: keys): _*)
    }
    index
      .filter(col("mh0").isNotNull)
      .select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id") +: bandKeyCols(rowsPerBand).map(n => col(s"bk.$n").as(n)): _*)
  }

  /** Publish a [[buildDedupIndex]] corpus as the three BUCKETED catalog
    * tables the steady-state serve joins against — one per join, each
    * bucketed by that join's key so [[dedupIncrementBucketed]] never
    * exchanges a corpus row:
    *
    *  - `<prefix>_bands`: exploded (band, k0..k{rows-1}, id), bucketed by
    *    the band key — the LSH candidate join's corpus side;
    *  - `<prefix>_sigs`: the index rows, bucketed by id — the corpus-side
    *    lookup that feeds the agree prefilter AND the Jaccard verify in
    *    one join;
    *  - `<prefix>_hashes`: distinct content hashes, bucketed by `__h` —
    *    the exact-dup anti-join's corpus side.
    *
    * Bucket count should match target parallelism (executors × cores);
    * re-publishing is a `mode("overwrite")` save. The tables are a SERVING
    * layout, not the artifact of record — the persisted index
    * ([[saveDedupIndex]] / the manifest mode) stays the source of truth,
    * and a publish is one deterministic rewrite of it.
    */
  def saveDedupServeTables(
      index: DataFrame,
      prefix: String,
      buckets: Int = 32,
      k: Int = 8,
      bands: Int = 4,
  ): Unit =
    saveServeTablesNamed(index, s"${prefix}_bands", s"${prefix}_sigs", s"${prefix}_hashes", buckets, k, bands)

  private def saveServeTablesNamed(
      index: DataFrame,
      bandsTable: String,
      sigsTable: String,
      hashesTable: String,
      buckets: Int,
      k: Int,
      bands: Int,
  ): Unit = {
    require(k % bands == 0, s"saveDedupServeTables: bands ($bands) must divide k ($k)")
    requireIndexColumns(s"saveDedupServeTables: incoming index for '$sigsTable'", index.columns.toSeq, k)
    val idx = Lineage.truncate(index.select(indexColumns(k).map(col): _*))
    graft.ops.Lake.bucketize(bandRows(idx, k, bands), bandsTable, bandKeyCols(k / bands), buckets)
    graft.ops.Lake.bucketize(idx, sigsTable, Seq("id"), buckets)
    graft.ops.Lake.bucketize(idx.select(col("__h")).distinct(), hashesTable, Seq("__h"), buckets)
    // Serve-ownership stamps ([[ServeLayoutProp]] / [[ServeSentinel]]):
    // property for the catalog plane, sentinel for the warehouse-dir
    // plane — what the plain-layout retirement and the publish vacuum
    // accept as proof this table is OURS to drop.
    val spark = index.sparkSession
    Seq(bandsTable, sigsTable, hashesTable).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('$ServeLayoutProp' = 'dedup')")
      val (db, bare) = graft.ops.Lake.dbAndBare(spark, t)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(bare, Some(db)))
          .location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(loc, ServeSentinel), true).close()
    }
  }

  // ----------------------------------------------------------------------
  // ATOMIC serve publish — the pointer-swap protocol for the serving
  // layout, inheriting the shape the two manifest chains proved: a
  // publish writes three GENERATION-VERSIONED tables under fresh
  // token-unique names (`<prefix>_g<gen>_ts<millis>_<tok8>_{bands,sigs,
  // hashes}`), stamps each with the served generation AND the publish
  // token BEFORE any pointer moves (the freshness observable can never
  // lie, even mid-crash), and then swings ONE tiny head object — a
  // `serve-<seq>.properties` file in a `<prefix>__servehead` directory
  // next to the tables — carrying the same two concurrent-committer
  // fences as the chains (expected-parent re-listed after staging;
  // committer-token read-back for silently-replacing PUTs). A reader
  // resolves the head once and serves wholly one publish: mid-republish
  // it sees wholly OLD (head not yet swung) or wholly NEW, never a
  // gen-N bands / gen-N-1 sigs mix; superseded publishes outlive their
  // replacement by the keep window, the reader's grace. The raw
  // [[saveDedupServeTables]] remains the headless single-writer mode
  // (plain `<prefix>_*` names, no generation claim) — the two modes are
  // distinguished by the head's existence, and a head always wins.
  // ----------------------------------------------------------------------

  private def serveHeadDir(spark: SparkSession, prefix: String): org.apache.hadoop.fs.Path =
    graft.ops.Lake.managedLocation(spark, s"${prefix}__servehead")

  private val ServeHeadName = raw"serve-(\d+)\.properties".r

  private[graft] def listServeHeads(
      fs: org.apache.hadoop.fs.FileSystem,
      headDir: org.apache.hadoop.fs.Path,
  ): Seq[Long] =
    if (!fs.exists(headDir)) Nil
    else
      fs.listStatus(headDir)
        .toSeq
        .flatMap(_.getPath.getName match {
          case ServeHeadName(n) => Some(n.toLong)
          case _ => None
        })
        .sorted

  /** `since` = the wall clock at which a head FIRST superseded the plain
    * `<prefix>_*` layout (the seq-0 commit's staging stamp), forwarded
    * verbatim by every later publish — a FIXED anchor for the
    * plain-table retirement grace. Anchoring on the oldest LIVE head's
    * stamp instead would be a sliding window: a prefix that republishes
    * more often than the grace would never see an old-enough live head
    * and the superseded plain layout (one dead corpus copy) would leak
    * permanently — the exact failure the retirement exists to close.
    * Heads written before the field existed fall back to the oldest
    * stamp their own table NAMES carry (conservative: at least as late
    * as the true first swing, so the grace only widens).
    */
  private[graft] case class ServeHead(
      seq: Long,
      gen: Long,
      token: String,
      bands: String,
      sigs: String,
      hashes: String,
      since: Long = Long.MaxValue,
  )

  private[graft] def readServeHead(
      fs: org.apache.hadoop.fs.FileSystem,
      headDir: org.apache.hadoop.fs.Path,
      seq: Long,
  ): ServeHead = {
    val p = new org.apache.hadoop.fs.Path(headDir, s"serve-$seq.properties")
    val in = fs.open(p)
    val props = new java.util.Properties()
    try props.load(in)
    finally in.close()
    def req(key: String): String = {
      val v = props.getProperty(key)
      require(v != null, s"readServeHead: $p is missing '$key' - a corrupt or foreign head object")
      v
    }
    val bands = req("bands")
    val sigs = req("sigs")
    val hashes = req("hashes")
    // Pre-`since` heads: the oldest stamp in this head's own table names
    // bounds the first swing from above — a conservative legacy anchor.
    // Anchored on the versioned-name TAIL (`_g<gen>_ts<ms>_<tok8>_<table>`
    // at end-of-name, [[versionedServeNames]]'s shape), NOT a bare
    // first-`_ts<digits>_` scan: a user prefix that itself contains a
    // `_ts<digits>_` token (`corpus_ts2024_x`) would otherwise be parsed
    // as the stamp, misdating the anchor to near-epoch and retiring the
    // plain layout before the headless-reader grace actually elapsed.
    val since = Option(props.getProperty("since")).map(_.toLong).getOrElse {
      val tail = raw"_g\d+_ts(\d+)_[0-9a-f]{8}_(?:bands|sigs|hashes)$$".r
      val stamps = Seq(bands, sigs, hashes)
        .map(_.split('.').last.toLowerCase(java.util.Locale.ROOT))
        .flatMap(n => tail.findFirstMatchIn(n).map(_.group(1).toLong))
      if (stamps.isEmpty) Long.MaxValue else stamps.min
    }
    ServeHead(seq, req("gen").toLong, req("token"), bands, sigs, hashes, since)
  }

  // The forwarded `since` anchor for a publish whose parent was listed as
  // `parentSeq`. The parent-head READ runs after the corpus-linear table
  // save, so a concurrent publisher plus vacuum can retire the listed
  // parent in that window — the head object is simply GONE. That loser
  // was going to refuse anyway (its expectedParent no longer matches the
  // re-listed head, commitServeHead's fence 1), so the anchor falls back
  // to `stampMs` and lets the fence refuse with its spec'd "head moved"
  // message instead of surfacing a raw FileNotFoundException from
  // mid-protocol. private[graft] so the spec drives the retired-parent
  // window directly.
  private[graft] def firstSwingAnchor(
      fs: org.apache.hadoop.fs.FileSystem,
      headDir: org.apache.hadoop.fs.Path,
      parentSeq: Option[Long],
      stampMs: Long,
  ): Long =
    parentSeq.fold(stampMs) { p =>
      try readServeHead(fs, headDir, p).since
      catch { case _: java.io.FileNotFoundException => stampMs }
    }

  /** Commit one head object — the serve layout's single-object pointer
    * swap, carrying the manifest chains' two concurrent-committer fences:
    * (1) expected-parent, re-listed here AFTER the payload is built, so a
    * publisher that lost the race refuses loudly instead of silently
    * unreferencing the winner's tables; (2) the committer-token
    * read-back ([[requireServeHeadCommitWon]]) for stores whose "rename"
    * is a silently replacing PUT. private[graft] so the spec drives the
    * losing side of both fences directly.
    */
  private[graft] def commitServeHead(
      fs: org.apache.hadoop.fs.FileSystem,
      headDir: org.apache.hadoop.fs.Path,
      head: ServeHead,
      expectedParent: Option[Long],
  ): Unit = {
    val props = new java.util.Properties()
    props.setProperty("gen", head.gen.toString)
    props.setProperty("token", head.token)
    props.setProperty("bands", head.bands)
    props.setProperty("sigs", head.sigs)
    props.setProperty("hashes", head.hashes)
    props.setProperty("since", head.since.toString)
    fs.mkdirs(headDir)
    val tmp = new org.apache.hadoop.fs.Path(headDir, Manifest.scratchName("_head_tmp", head.token))
    val out = fs.create(tmp, true)
    try props.store(out, null)
    finally out.close()
    // EVERY refusal path deletes the staged tmp (fence 1, seq-exists,
    // failed rename, the fence-2 PUT loss) — the shared protocol
    // ([[AtomicHead.commit]]) owns that hygiene; only a driver crash can
    // leave one behind, and [[vacuumServePublishes]] ages those out by
    // their name stamp.
    val target = new org.apache.hadoop.fs.Path(headDir, s"serve-${head.seq}.properties")
    AtomicHead.commit(
      fs,
      staged = tmp,
      scratchRoot = tmp,
      scratchIsDir = false,
      target = target,
      headNow = () => listServeHeads(fs, headDir).lastOption,
      expectedParent = expectedParent,
      refuseMoved = headNow =>
        throw new IllegalStateException(
          s"commitServeHead: serve head moved from $expectedParent to $headNow while this publish was " +
            "built - a concurrent publisher swung the pointer first. Committing would silently " +
            "unreference its tables. Re-resolve and retry (or accept the fresher publish)."),
      existsMsg = s"commitServeHead: head seq ${head.seq} already exists at $target",
      renameFailedMsg = s"commitServeHead: commit move failed for $target",
      requireCommitWon = () => requireServeHeadCommitWon(fs, headDir, head.seq, head.token),
    )
  }

  // Fence 2's read-back, separated (the chains' shape) so the spec can
  // drive the LOSING side — the object-store PUT overwrite a local-FS
  // test cannot produce through rename.
  private[graft] def requireServeHeadCommitWon(
      fs: org.apache.hadoop.fs.FileSystem,
      headDir: org.apache.hadoop.fs.Path,
      seq: Long,
      token: String,
  ): Unit = {
    val winner = readServeHead(fs, headDir, seq).token
    require(
      winner == token,
      s"commitServeHead: head seq $seq was committed by ANOTHER publisher (its token $winner, ours " +
        s"$token) - this publisher lost the PUT race; its tables are NOT what readers resolve. " +
        "Re-resolve and retry as the next seq (the orphaned tables age out via the publish vacuum).")
  }

  private def versionedServeNames(prefix: String, gen: Long, stampMs: Long, tok8: String): (String, String, String) = {
    val base = s"${prefix}_g${gen}_ts${stampMs}_$tok8"
    (s"${base}_bands", s"${base}_sigs", s"${base}_hashes")
  }

  // A versioned serve-table name's embedded (gen, stampMs) — the vacuum's
  // age gate, wall-clock-stamped for the same reason scratch names are
  // ([[Manifest.scratchName]]).
  private def versionedServePattern(prefix: String) =
    (java.util.regex.Pattern.quote(prefix) + raw"_g(\d+)_ts(\d+)_[0-9a-f]{8}_(?:bands|sigs|hashes)").r

  /** The resolved serving layout a reader should join against. Versioned
    * mode (a head exists): the head names the exact three tables, and the
    * resolution VERIFIES all three exist and carry the head's own
    * (generation, token) stamps — a torn publish (crash between table
    * saves, or a doctored table) refuses loudly instead of silently
    * under-dedup-ing via a gen-N bands / gen-N-1 sigs mix. Headless mode:
    * the raw [[saveDedupServeTables]] plain names, no generation claim,
    * single-writer by contract. A resolution is a SNAPSHOT: a republish
    * swings the head for the NEXT resolution, never this one's (the
    * superseded tables outlive it by the publish keep window).
    */
  private[graft] case class DedupServeLayout(
      bands: String,
      sigs: String,
      hashes: String,
      gen: Option[Long],
      token: Option[String],
  )

  private[graft] def resolveDedupServe(spark: SparkSession, prefix: String): DedupServeLayout = {
    val headDir = serveHeadDir(spark, prefix)
    val fs = headDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val heads = listServeHeads(fs, headDir)
    if (heads.isEmpty)
      DedupServeLayout(s"${prefix}_bands", s"${prefix}_sigs", s"${prefix}_hashes", None, None)
    else {
      val h = readServeHead(fs, headDir, heads.max)
      val cat = spark.sessionState.catalog
      Seq(h.bands, h.sigs, h.hashes).foreach { t =>
        val (db, bare) = graft.ops.Lake.dbAndBare(spark, t)
        val ident = org.apache.spark.sql.catalyst.TableIdentifier(bare, Some(db))
        require(
          cat.tableExists(ident),
          s"resolveDedupServe: head seq ${h.seq} for '$prefix' names table '$t' which the catalog " +
            "does not know. With the default in-memory catalog serve tables do not survive a session " +
            "restart - republish from the index (publishDedupServeTables); on a persistent metastore " +
            "this means the publish behind this head crashed before completing or its tables were " +
            "dropped externally.",
        )
        val props = cat.getTableMetadata(ident).properties
        require(
          props.get(ServeGenProp).contains(h.gen.toString) && props.get(ServeTokenProp).contains(h.token),
          s"resolveDedupServe: table '$t' carries stamps (gen ${props.get(ServeGenProp)}, token " +
            s"${props.get(ServeTokenProp)}) that do not match its head (gen ${h.gen}, token ${h.token}) " +
            "- a TORN or doctored publish. Refusing to serve a mixed-generation layout; republish.",
        )
      }
      DedupServeLayout(h.bands, h.sigs, h.hashes, Some(h.gen), Some(h.token))
    }
  }

  private[graft] val ServeGenProp = "graft.servedGeneration"
  private[graft] val ServeTokenProp = "graft.publishToken"

  // SERVE-ownership stamps, one per visibility plane (the catalog can
  // forget a table across sessions while its warehouse dir persists —
  // the same split [[graft.ops.Lake.bucketize]]'s stamps cover): every
  // table [[saveServeTablesNamed]] writes carries the property and the
  // location sentinel. The plain-layout retirement's ownership proof
  // must be SERVE-specific — the generic bucketize stamp would also
  // claim an unrelated bucketize-published table that merely collides
  // with a plain serve name (`<prefix>_sigs`), and once the retirement
  // anchor ages that foreign table would be dropped.
  private[graft] val ServeLayoutProp = "graft.serveLayout"
  private[graft] val ServeSentinel = "_graft_dedup_serve"

  /** [[saveDedupServeTables]] from a MANIFEST index's snapshot as an
    * ATOMIC generation-versioned publish. The layout's freshness contract
    * for a standing pipeline: the serve tables are a point-in-time
    * rewrite of one generation, later ingest commits advance the chain
    * without touching them, and [[dedupServeGeneration]] against
    * the manifest chain's head tells an operator exactly how stale the
    * serving layout is (serving an older snapshot deliberately is
    * legitimate — that's what generation pinning is for).
    *
    * Atomicity: the three tables land under fresh token-unique versioned
    * names, each stamped (generation, token) as part of its save — only
    * then does one head object swing the pointer, under the chains' two
    * commit fences. A reader mid-republish sees wholly the old publish
    * or wholly the new one; a crash at ANY point leaves either the old
    * head serving intact tables plus unreferenced garbage the vacuum
    * ages out, or the new head serving its complete stamped set. The
    * superseded publish's tables survive `keepPublishes` more publishes
    * — the in-flight reader's grace window — then are dropped and their
    * locations vacuumed (sentinel-guarded, never a foreign table's
    * data). Returns the published generation.
    */
  def publishDedupServeTables(
      spark: SparkSession,
      indexPath: String,
      prefix: String,
      buckets: Int = 32,
      k: Int = 8,
      bands: Int = 4,
      gen: Option[Long] = None,
      keepPublishes: Int = 2,
      vacuumGraceMs: Long = 24L * 60L * 60L * 1000L,
  ): Long = {
    require(keepPublishes >= 1, s"publishDedupServeTables: keepPublishes must be >= 1: $keepPublishes")
    val g = manifest(spark, indexPath).resolve("publishDedupServeTables", gen)
    val token = java.util.UUID.randomUUID().toString
    val tok8 = token.replace("-", "").take(8)
    val stampMs = System.currentTimeMillis()
    val headDir = serveHeadDir(spark, prefix)
    val hfs = headDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parentSeq = listServeHeads(hfs, headDir).lastOption
    val (bandsT, sigsT, hashesT) = versionedServeNames(prefix, g, stampMs, tok8)
    saveServeTablesNamed(loadDedupIndexSnapshot(spark, indexPath, k, Some(g)), bandsT, sigsT, hashesT, buckets, k, bands)
    // Stamp BEFORE the pointer swap: readers only reach these tables
    // through the head, and the head only commits after every stamp is
    // durable — the staleness observable cannot lie, even briefly.
    Seq(bandsT, sigsT, hashesT).foreach { t =>
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('$ServeGenProp' = '$g', '$ServeTokenProp' = '$token')")
    }
    // `since` (the first-swing anchor) is FORWARDED from the parent head;
    // only the very first publish stamps it — see [[ServeHead]].
    val since = firstSwingAnchor(hfs, headDir, parentSeq, stampMs)
    commitServeHead(hfs, headDir,
      ServeHead(parentSeq.getOrElse(-1L) + 1L, g, token, bandsT, sigsT, hashesT, since), parentSeq)
    // Shallow inline vacuum: the warehouse-root listing is skipped unless
    // this publish itself retired a head or surfaced a catalog orphan —
    // the full listing belongs to the standalone maintenance cadence.
    vacuumServePublishes(spark, prefix, keepPublishes, vacuumGraceMs, deep = false)
    g
  }

  /** Retire superseded and crashed publishes: head entries beyond the
    * newest `keepPublishes` are dropped with their tables (readers
    * resolved within the keep window keep consistent tables — the same
    * grace rule the manifest cleanup gives snapshot readers), and
    * versioned serve tables referenced by NO live head whose embedded
    * wall-clock stamp has aged past `graceMs` (a publish that crashed
    * before its head swing, or lost a commit race and did not retry) are
    * swept — catalog entries and, for tables the in-memory catalog
    * forgot across sessions, their sentinel-guarded warehouse dirs.
    * Runs at the end of every [[publishDedupServeTables]]; callable
    * standalone on a maintenance cadence. Returns the number of retired
    * table names.
    *
    * The grace defaults to 24 HOURS, deliberately far above the scratch
    * vacuums' 15 minutes: a manifest commit stages metadata (seconds),
    * but a serve publish is a CORPUS-LINEAR rewrite that can
    * legitimately run for hours at scale — a concurrent publisher's
    * vacuum must never sweep tables another publish is still staging.
    * The cost of the margin is bounded: a crashed publish's orphans are
    * one corpus copy surviving at most one extra cadence period.
    *
    * `deep = false` (how [[publishDedupServeTables]] runs it inline)
    * skips the warehouse-root directory listing unless this very call
    * found a CATALOG orphan: that listing is O(every managed table in
    * the database) and expensive on object stores, while the
    * cross-session dir orphans it exists for (a crashed publish whose
    * tables a fresh session's in-memory catalog forgot) cannot have
    * appeared between two clean publishes from the same session.
    * Retiring a superseded head is NOT evidence of such residue — it is
    * the routine steady-state path (every publish beyond `keepPublishes`
    * retires one), and its tables are dropped by NAME with no listing —
    * so it deliberately does not trigger the sweep. The standalone
    * maintenance cadence keeps the default `deep = true` full sweep —
    * that is the call that reclaims other-session residue.
    */
  def vacuumServePublishes(
      spark: SparkSession,
      prefix: String,
      keepPublishes: Int = 2,
      graceMs: Long = 24L * 60L * 60L * 1000L,
      deep: Boolean = true,
  ): Long = {
    require(keepPublishes >= 1, s"vacuumServePublishes: keepPublishes must be >= 1: $keepPublishes")
    val headDir = serveHeadDir(spark, prefix)
    val fs = headDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val heads = listServeHeads(fs, headDir)
    val (oldSeqs, keptSeqs) = heads.splitAt(math.max(0, heads.size - keepPublishes))
    val keptHeads = keptSeqs.map(readServeHead(fs, headDir, _))
    val keptTables: Set[String] =
      keptHeads.flatMap(h => Seq(h.bands, h.sigs, h.hashes)).toSet
    // A db-qualified prefix ("mydb.graft_x") builds qualified table
    // names, but the catalog listing and the warehouse dir carry BARE
    // names — the orphan pattern must match on the bare form, and a
    // bare orphan name must be re-qualified before the drop resolves it
    // (an unqualified drop would resolve against the session's CURRENT
    // database, not the prefix's).
    val prefixParts = prefix.split('.')
    val barePrefix = prefixParts.last.toLowerCase(java.util.Locale.ROOT)
    val qualifier = if (prefixParts.length == 2) Some(prefixParts.head) else None
    def bareOf(name: String): String = name.split('.').last.toLowerCase(java.util.Locale.ROOT)
    val keptBare = keptTables.map(bareOf)
    var retired = 0L
    def dropServeTable(name: String): Unit = {
      val (db, bare) = graft.ops.Lake.dbAndBare(spark, name)
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(bare, Some(db))
      var removed = false
      if (spark.sessionState.catalog.tableExists(ident)) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        removed = true
      }
      // The in-memory catalog forgets tables across sessions while the
      // warehouse dir persists — vacuum the location too. Ownership
      // proof: the bucketize sentinel, OR the versioned-serve name
      // itself (token-unique, stamped, under this prefix — which is
      // exactly what a publish that crashed INSIDE the table save
      // leaves behind: data landed, sentinel not yet written; without
      // the name rule that corpus-sized dir would leak forever).
      val loc = graft.ops.Lake.managedLocation(spark, name)
      val owned = fs.exists(new org.apache.hadoop.fs.Path(loc, graft.ops.Lake.BucketizeSentinel)) ||
        versionedServePattern(barePrefix).pattern.matcher(bare).matches()
      if (fs.exists(loc) && owned) {
        fs.delete(loc, true)
        removed = true
      }
      if (removed) retired += 1
    }
    oldSeqs.foreach { s =>
      val h = readServeHead(fs, headDir, s)
      Seq(h.bands, h.sigs, h.hashes).filterNot(keptTables).foreach(dropServeTable)
      fs.delete(new org.apache.hadoop.fs.Path(headDir, s"serve-$s.properties"), false)
    }
    // Crashed-publish orphans: versioned names matching this prefix's
    // pattern, referenced by no live head, aged past the grace (the
    // stamp is in the NAME — mtime-free for the same object-store
    // reason as scratch vacuums). Swept from both the catalog and the
    // warehouse listing, so a crash in any session is reclaimable.
    val pat = versionedServePattern(barePrefix)
    val staleBefore = System.currentTimeMillis() - graceMs
    def orphaned(name: String): Boolean = name match {
      case pat(_, ts) => !keptBare(name) && ts.toLong <= staleBefore
      case _ => false
    }
    val (db, _) = graft.ops.Lake.dbAndBare(spark, prefix + "__servehead")
    val catalogOrphans = spark.sessionState.catalog
      .listTables(db)
      .map(_.table)
      .filter(orphaned)
    // The warehouse-root listing is the expensive half (O(all managed
    // tables), object-store listings priced per entry) and only finds
    // CROSS-SESSION residue — shallow mode runs it just when this call
    // surfaced a catalog orphan. A retired head is NOT such evidence:
    // it is the routine steady-state path (every publish past
    // keepPublishes retires one) and its tables drop by name, so gating
    // on it would re-pay the listing on every inline publish forever.
    val dirOrphans =
      if (!deep && catalogOrphans.isEmpty) Nil
      else {
        val whParent = graft.ops.Lake.managedLocation(spark, prefix + "__servehead").getParent
        if (!fs.exists(whParent)) Nil
        else fs.listStatus(whParent).toSeq.map(_.getPath.getName).filter(orphaned)
      }
    (catalogOrphans ++ dirOrphans).distinct
      .foreach(bare => dropServeTable(qualifier.fold(bare)(q => s"$q.$bare")))
    // SUPERSEDED PLAIN LAYOUT: once a head exists, the plain
    // `<prefix>_{bands,sigs,hashes}` tables are unreachable through
    // resolution (a head always wins) — a pre-head legacy publish, or a
    // raw-save layout the operator migrated to the versioned protocol,
    // is one permanently dead corpus copy. Retire it once every
    // headless reader's grace has passed, measured from the FIRST head
    // swing (a reader can only have resolved the plain layout before
    // seq 0 committed) — the `since` anchor every head forwards
    // ([[ServeHead]]). A live-stamp anchor would be a sliding window:
    // a prefix republishing more often than the grace would never
    // retire the plain layout at all. Ownership is proved BEFORE the
    // drop — the legacy publish stamp or the bucketize publish
    // property in the catalog, the bucketize sentinel for a location
    // the in-memory catalog forgot — so a foreign table that merely
    // collides with the plain name survives, the same refusal rule
    // bucketize itself applies. Three point lookups, no listing.
    if (keptHeads.nonEmpty) {
      if (keptHeads.map(_.since).min <= staleBefore) {
        // Ownership proof is SERVE-specific ([[ServeLayoutProp]] /
        // [[ServeSentinel]], or the pre-head publish's generation stamp)
        // — NOT the generic bucketize stamp: any bucketize-published
        // table that happened to be named `<prefix>_sigs` would satisfy
        // that one and be destroyed here once the anchor aged.
        def plainOwned(t: String): Boolean = {
          val (pdb, pbare) = graft.ops.Lake.dbAndBare(spark, t)
          val ident = org.apache.spark.sql.catalyst.TableIdentifier(pbare, Some(pdb))
          if (spark.sessionState.catalog.tableExists(ident)) {
            val props = spark.sessionState.catalog.getTableMetadata(ident).properties
            props.contains(ServeGenProp) || props.contains(ServeLayoutProp)
          } else
            fs.exists(new org.apache.hadoop.fs.Path(
              graft.ops.Lake.managedLocation(spark, t), ServeSentinel))
        }
        Seq("bands", "sigs", "hashes")
          .map(sfx => qualifier.fold(s"${barePrefix}_$sfx")(q => s"$q.${barePrefix}_$sfx"))
          .filter(plainOwned)
          .foreach(dropServeTable)
      }
    }
    // Crashed-COMMIT head scratch (_head_tmp_ts<ms>_<token>): every
    // refusal path in commitServeHead deletes its own tmp, so anything
    // here is a driver crash's residue — aged out by its name stamp.
    if (fs.exists(headDir))
      fs.listStatus(headDir)
        .filter(s =>
          s.getPath.getName.startsWith("_head_tmp") &&
            Manifest.scratchIsStale(s, staleBefore))
        .foreach(s => fs.delete(s.getPath, false))
    retired
  }

  /** The generation a published layout serves — read from the HEAD
    * pointer, which only ever swings to a fully-stamped publish, so the
    * observable cannot report a generation whose tables are not yet
    * (or no longer) wholly in place. None for a headless raw
    * [[saveDedupServeTables]] layout (no generation to claim). Compare
    * with the index chain's head to measure serving staleness.
    *
    * Headless layouts carrying the PRE-HEAD stamped-plain-table claim
    * (a `graft.servedGeneration` property on `<prefix>_sigs`, how the
    * original publish stamped before the pointer-swap protocol) keep
    * their telemetry through the legacy read below — without it an
    * upgrade would silently report a working published layout as
    * never-published and the first refresh would pay an unneeded full
    * corpus republish.
    */
  def dedupServeGeneration(spark: SparkSession, prefix: String): Option[Long] = {
    val headDir = serveHeadDir(spark, prefix)
    val fs = headDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listServeHeads(fs, headDir)
      .lastOption
      .map(readServeHead(fs, headDir, _).gen)
      .orElse(legacyServeGeneration(spark, prefix))
  }

  // The pre-head stamped-plain-table read (the original publish's
  // observable), kept so layouts published before the atomic protocol
  // still report their generation.
  private def legacyServeGeneration(spark: SparkSession, prefix: String): Option[Long] =
    try
      spark
        .sql(s"SHOW TBLPROPERTIES ${prefix}_sigs ('$ServeGenProp')")
        .collect()
        .headOption
        .map(_.getString(1))
        .filterNot(_.startsWith("Table"))
        .flatMap(_.toLongOption)
    catch { case _: org.apache.spark.sql.AnalysisException => None } // no such table: no claim

  /** The standing serving loop's refresh rule — the piece that turns the
    * staleness OBSERVABLE (chain head − [[dedupServeGeneration]]) into an
    * ACTION: republish the layout when staleness reaches `maxStaleGens`,
    * no-op below it. Composed after each ingest commit
    * ([[graft.streaming.EventStream.dedupIndexIngestOneShotManifest]])
    * this is the whole nightly serving pipeline: batches land and commit
    * generations continuously; the expensive corpus rewrite (one
    * [[publishDedupServeTables]], linear in the corpus) runs only when
    * the bound says the layout has drifted far enough to be worth it —
    * the same amortization rule compaction already follows. A
    * never-published layout (no head) always refreshes. Returns the
    * published generation on a refresh, None on the fresh-enough no-op.
    *
    * `maxStaleGens` trades serve freshness against rewrite cost: 1
    * republishes after every committed batch (a corpus rewrite per
    * batch — only right for small corpora or rare batches); N amortizes
    * one rewrite over N batches while [[dedupIncrementBucketed]] keeps
    * serving the pinned older snapshot, whose misses are bounded by the
    * un-served batches' content.
    */
  def refreshDedupServe(
      spark: SparkSession,
      indexPath: String,
      prefix: String,
      maxStaleGens: Long = 1L,
      buckets: Int = 32,
      k: Int = 8,
      bands: Int = 4,
      keepPublishes: Int = 2,
  ): Option[Long] = {
    require(maxStaleGens >= 1, s"refreshDedupServe: maxStaleGens must be >= 1: $maxStaleGens")
    val head = manifest(spark, indexPath).head("refreshDedupServe")
    // The staleness rule runs on what the layout can actually SERVE, not
    // what its head claims: a head whose tables do not resolve — the
    // default in-memory catalog lost them across a session restart while
    // the head file persisted in the warehouse, or a torn/doctored
    // layout — is serving NOTHING, so it refreshes regardless of its
    // stamped generation (republish is also the torn layout's documented
    // remediation). A cheap head-only read would have called that
    // dangling layout "fresh" and left every increment refusing.
    // IllegalArgumentException covers every "cannot serve" refusal —
    // the missing-table and torn-stamp requires, AND a corrupt head's
    // parse (NumberFormatException is an IllegalArgumentException).
    // A transient IO error deliberately CRASHES the tick instead: it
    // says nothing about the layout, and republishing on it would turn
    // every store blip into a full corpus rewrite; the next tick
    // retries.
    val servableGen =
      try {
        val layout = resolveDedupServe(spark, prefix)
        // A HEADLESS layout can still be a WORKING legacy publish: the
        // pre-head protocol stamped the plain tables
        // (graft.servedGeneration on <prefix>_sigs) instead of swinging a
        // head. dedupServeGeneration keeps that telemetry for exactly
        // this reason — without the same fallback here, the first
        // post-upgrade refresh would call a perfectly fresh legacy
        // layout "never published" and pay a full corpus republish the
        // staleness rule does not require. The fallback only counts if
        // ALL THREE plain tables resolve (a partial legacy layout serves
        // nothing and must refresh); its first refresh then publishes
        // versioned tables and the superseded plain set is retired by
        // [[vacuumServePublishes]] once the reader grace passes.
        layout.gen.orElse {
          val plainResolves =
            Seq(layout.bands, layout.sigs, layout.hashes).forall(spark.catalog.tableExists)
          if (plainResolves) legacyServeGeneration(spark, prefix) else None
        }
      } catch { case _: IllegalArgumentException => None }
    val stale = servableGen.forall(served => head - served >= maxStaleGens)
    if (stale)
      Some(publishDedupServeTables(spark, indexPath, prefix, buckets, k, bands,
        gen = Some(head), keepPublishes = keepPublishes))
    else None
  }

  /** SERVE-LAYOUT DIFF — the [[dedupChainDiff]] audit pointed at the
    * published tables: what does the serving layout ACTUALLY contain,
    * versus the deterministic derivation of the snapshot its head
    * claims? The chain diffs audit the artifact of record; this audits
    * the serving copy — exactly the gap where a torn publish, a doctored
    * table, or metadata drift would hide (the stamp checks prove the
    * tables belong to one publish; this proves their CONTENT matches the
    * claimed generation). Returns (tbl ∈ bands|hashes|sigs,
    * op ∈ serve_only|index_only, id, h): full-row set compares per
    * table (a doctored minhash column surfaces, not just a missing id),
    * projected to the id plus a row fingerprint for a unified report.
    * Empty after a clean publish — the cheapest "the layout serves what
    * it says" gate a pipeline can run after any publish.
    *
    * `gen` overrides the head's claim for drift probes (e.g. diff the
    * live layout against a LATER generation to see exactly what a
    * pending republish would change — the serve-side staleness CONTENT,
    * where [[dedupServeGeneration]] gives only its count).
    *
    * Scale shape: three except compares, each linear in the corpus with
    * no pairwise blowup (each exchanges both sides once on its own
    * keys); the serve side reads bucketed tables, the index side one
    * snapshot — the same cost class as the publish it audits, run on
    * the same cadence.
    */
  def dedupServeDiff(
      spark: SparkSession,
      indexPath: String,
      prefix: String,
      k: Int = 8,
      bands: Int = 4,
      gen: Option[Long] = None,
  ): DataFrame = {
    require(k % bands == 0, s"dedupServeDiff: bands ($bands) must divide k ($k)")
    val layout = resolveDedupServe(spark, prefix)
    val g = gen.orElse(layout.gen)
    require(
      g.nonEmpty,
      s"dedupServeDiff: layout '$prefix' claims no generation (a headless raw save) - pass gen " +
        "explicitly to state which snapshot it should match.",
    )
    val snap = Lineage.truncate(loadDedupIndexSnapshot(spark, indexPath, k, g))
    val sigCols = indexColumns(k).map(col)
    val bandCols = (col("id") +: bandKeyCols(k / bands).map(col))
    // except() aligns columns POSITIONALLY (union rules): both sides of
    // every compare are re-selected into the same canonical order.
    def tblDiff(tbl: String, actual: DataFrame, expected: DataFrame, project: DataFrame => DataFrame): DataFrame =
      project(actual.except(expected)).select(lit(tbl).as("tbl"), lit("serve_only").as("op"), col("id"), col("h"))
        .unionAll(
          project(expected.except(actual)).select(lit(tbl).as("tbl"), lit("index_only").as("op"), col("id"), col("h")))
    val sigDiff = tblDiff(
      "sigs",
      spark.table(layout.sigs).select(sigCols: _*),
      snap.select(sigCols: _*),
      d => d.select(col("id").cast("string").as("id"), col("__h").as("h")),
    )
    val bandDiff = tblDiff(
      "bands",
      spark.table(layout.bands).select(bandCols: _*),
      bandRows(snap, k, bands).select(bandCols: _*),
      d => d.select(col("id").cast("string").as("id"), xxhash64(bandCols: _*).as("h")),
    )
    val hashDiff = tblDiff(
      "hashes",
      spark.table(layout.hashes).select(col("__h")),
      snap.select(col("__h")).distinct(),
      d => d.select(lit(null).cast("string").as("id"), col("__h").as("h")),
    )
    bandDiff.unionAll(hashDiff).unionAll(sigDiff)
  }

  /** [[dedupIncrementWithIndex]] against [[saveDedupServeTables]]' layout
    * — same contract, same drop set (the q124 oracle holds verbatim),
    * different physical plan: every corpus-side join is co-located on its
    * table's bucketing, so per batch the corpus is read but never
    * shuffled. The candidate set is the banded cross-side pair set as a
    * DISTINCT set (the core's first-matching-band trick emits each pair
    * exactly once to dedup verify WORK; here one distinct over the
    * batch-bounded candidate pairs does the same job), and the agree
    * prefilter + size-ratio + Jaccard verify all ride ONE lookup join
    * against `_sigs` instead of the core's two-sided union.
    */
  def dedupIncrementBucketed(
      spark: SparkSession,
      prefix: String,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.8,
      minAgree: Int = 4,
      checkDisjointIds: Boolean = true,
  ): DataFrame = {
    require(k % bands == 0, s"dedupIncrementBucketed: bands ($bands) must divide k ($k)")
    // Resolve the layout ONCE (snapshot semantics): versioned mode pins
    // the head's three tables after verifying their (gen, token) stamps
    // agree — a torn publish refuses loudly here rather than silently
    // under-dedup-ing via a mixed-generation bands/sigs pair.
    val layout = resolveDedupServe(spark, prefix)
    val sigsT = spark.table(layout.sigs)
    requireIndexColumns(s"dedupIncrementBucketed: table ${layout.sigs}", sigsT.columns.toSeq, k)
    val incIdx = Lineage.truncate(buildDedupIndex(incoming, idCol, textCol, k))
    if (checkDisjointIds) {
      val shared = sigsT.select(col("id")).join(incIdx.select(col("id")), "id").limit(1).collect()
      if (shared.nonEmpty) {
        throw new IllegalStateException(
          s"dedupIncrementBucketed: id '${shared.head.get(0)}' appears on BOTH sides — existing and " +
            "incoming ids must be disjoint (a shared id makes the pair orientation and the drop set ambiguous)."
        )
      }
    }
    // LSH candidates: the batch's band rows probe the co-located corpus
    // band table; only the batch side exchanges. Distinct pairs — the
    // drop decision needs the pair SET, not exactly-once emission.
    val cand = bandRows(incIdx, k, bands)
      .withColumnRenamed("id", "id_b")
      .join(spark.table(layout.bands).withColumnRenamed("id", "id_a"), bandKeyCols(k / bands))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // One corpus lookup join (bucketed by id) carries signatures AND
    // stored token sets to the batch side; agree prefilter, size-ratio
    // prefilter, and the merge-intersect Jaccard are then pure
    // expressions over the joined row.
    val corpusSide = sigsT.select(
      Seq(col("id").as("id_a"), col("toks").as("toks_a")) ++
        (0 until k).map(i => col(s"mh$i").as(s"a_mh$i")): _*
    )
    val incSide = incIdx.select(
      Seq(col("id").as("id_b"), col("toks").as("toks_b")) ++
        (0 until k).map(i => col(s"mh$i").as(s"b_mh$i")): _*
    )
    val agree = (0 until k)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val dropNear = cand
      .join(corpusSide, "id_a")
      .join(incSide, "id_b")
      .filter(agree >= minAgree)
      .filter(sizeRatioOk(size(col("toks_a")), size(col("toks_b")), threshold))
      .filter(jaccardHashed(col("toks_a"), col("toks_b")) >= threshold)
      .select(col("id_b").as("id"))
    incIdx
      .join(spark.table(layout.hashes), Seq("__h"), "left_anti")
      .join(dropNear, Seq("id"), "left_anti")
      .select(col("id"))
      .withColumnRenamed("id", idCol)
  }

  /** Maximum block ordinal per document for [[blockDedupRewrite]]'s packed
    * (doc, block) keep-key. 2^20 blocks × blockTokens ≥ 8 ≈ an 8M-token
    * document — far beyond any real training doc; exceeding it raises
    * in-plan rather than silently corrupting the keep rule.
    */
  val BlockOrdinalCap: Long = 1L << 20

  /** Cross-document exact-substring dedup REWRITE at block granularity (the
    * applied form of q121's duplication signal — "Deduplicating Training
    * Data Makes Language Models Better"-style span removal, approximated on
    * non-overlapping token blocks so removal is well-defined): split each
    * doc into consecutive `blockTokens`-token blocks, keep each distinct
    * block's FIRST occurrence corpus-wide (lowest doc id, then lowest block
    * ordinal), drop every other copy, and reassemble the surviving blocks
    * in order.
    *
    * Scale shape: block construction is a pure projection (one `transform`
    * over a hoisted token array — no explode until the blocks exist, no
    * self-join); the duplicate decision is ONE map-side-combined aggregate
    * on the 8-byte block hash carrying (count, min packed key); the probe
    * join is keyed on the same hash (AQE handles the Zipf head); reassembly
    * is one partial-aggregated `collect_list` bounded by the doc's own
    * block count. Nothing is pairwise; at 100 TB every stage is scan- or
    * shuffle-bandwidth bound on ~24-byte rows.
    *
    * Output: (idCol, n_blocks, n_kept, text_dedup) — `text_dedup` is the
    * space-rejoined surviving text ("" when every block was a duplicate
    * copy). Docs shorter than one full block still form one (short) block,
    * so they participate in dedup rather than bypassing it.
    */
  def blockDedupRewrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 16,
  ): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive: $blockTokens")
    val toksed = df
      .withColumn("__toks", graft.functions.TextAnalysis.wsTokens(col(textCol)))
      .withColumn(
        "__nblk",
        greatest(lit(1L), expr(s"(size(__toks) + ${blockTokens - 1}) div $blockTokens")),
      )
    // In-plan guard: the packed keep-key multiplexes (id, blk) into one
    // BIGINT min(); an ordinal past the cap would alias another document.
    val guarded = toksed.withColumn(
      "__nblk",
      when(
        col("__nblk") >= BlockOrdinalCap,
        raise_error(concat(lit(s"blockDedupRewrite: document exceeds $BlockOrdinalCap blocks: id="), col(idCol))),
      ).otherwise(col("__nblk")),
    )
    val blocks = Lineage.truncate(
      guarded
        .select(
          col(idCol).as("__id"),
          posexplode(
            transform(
              sequence(lit(0L), col("__nblk") - 1),
              i => array_join(slice(col("__toks"), (i * blockTokens + 1).cast("int"), lit(blockTokens)), " "),
            )
          ).as(Seq("__blk", "__btext")),
        )
        .withColumn("__h", graft.functions.Hashing.hash64(col("__btext")))
    )
    val firstOccurrence = blocks
      .groupBy(col("__h"))
      .agg(min(col("__id") * BlockOrdinalCap + col("__blk")).as("__keep_key"))
    blocks
      .join(firstOccurrence, "__h")
      .withColumn("__keep", (col("__id") * BlockOrdinalCap + col("__blk")) === col("__keep_key"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("__keep").cast("long")).as("n_kept"),
        array_join(
          transform(
            sort_array(collect_list(when(col("__keep"), struct(col("__blk"), col("__btext"))))),
            x => x.getField("__btext"),
          ),
          " ",
        ).as("text_dedup"),
      )
      .select(col("__id").as(idCol), col("n_blocks"), col("n_kept"), col("text_dedup"))
  }

  /** Dedup threshold tuning curve: ONE banded-LSH pair materialization
    * ([[minhashNearDupPairs]] at the lowest threshold of interest), then the
    * pair and touched-doc counts the pipeline would emit at EACH candidate
    * threshold — the "where do I set 0.8?" readout, priced at one pair pass
    * instead of a pipeline re-run per threshold. Thresholds are integer
    * per-cents so the sweep table is exact; the jaccard comparison itself
    * is the same IEEE `>= t/100.0` on both engines over identically
    * computed ratios.
    */
  def thresholdSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      thresholdPcts: Seq[Int],
      minAgree: Int = 4,
  ): DataFrame = {
    require(thresholdPcts.nonEmpty && thresholdPcts.forall(t => t >= 0 && t <= 100), "thresholds are integer percents")
    val spark = df.sparkSession
    import spark.implicits._
    val floor = thresholdPcts.min / 100.0
    val pairs = Lineage.truncate(
      minhashNearDupPairs(df, idCol, textCol, k, bands, threshold = floor, minAgree = minAgree)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    )
    val th = thresholdPcts.toDF("threshold_pct")
    val f = pairs
      .crossJoin(broadcast(th))
      .filter(col("jaccard") >= col("threshold_pct") / lit(100.0))
    val pairCounts = f.groupBy(col("threshold_pct")).agg(count(lit(1)).as("n_pairs"))
    val docCounts = f
      .select(col("threshold_pct"), col("id_a").as("doc"))
      .unionAll(f.select(col("threshold_pct"), col("id_b").as("doc")))
      .groupBy(col("threshold_pct"))
      .agg(countDistinct(col("doc")).as("n_docs"))
    th.join(pairCounts, Seq("threshold_pct"), "left")
      .join(docCounts, Seq("threshold_pct"), "left")
      .na
      .fill(0L, Seq("n_pairs", "n_docs"))
  }

  /** Near-dup pair review panel: for each banded-LSH pair at or above
    * `threshold`, the three orthogonal signals a human (or a downstream
    * auto-labeler) wants side by side — exact Jaccard, SimHash Hamming
    * distance (order-insensitive bag similarity), and the distinct-token
    * size ratio in per-mille (a tiny doc inside a big one scores high
    * Jaccard-of-the-small-side but low ratio). Disagreement between the
    * columns IS the signal: high Jaccard + high Hamming flags hash
    * pathologies, high Jaccard + low ratio flags containment, not
    * duplication.
    *
    * Scale: one pair materialization ([[minhashNearDupPairs]]) plus a
    * per-doc feature table (simhash, token count) materialized once and
    * joined to both endpoints — pair-sized work after the LSH stage.
    */
  def pairDiagnostics(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      threshold: Double,
      simBits: Int = 16,
  ): DataFrame = {
    val pairs = Lineage.truncate(
      minhashNearDupPairs(docs, idCol, textCol, k, bands, threshold)
    )
    // Feature the PAIR-INVOLVED docs only: the inner joins below prune to
    // them anyway, so simhashing/tokenizing the whole corpus first is pure
    // waste — at scale the pair node set is orders of magnitude smaller
    // than the corpus. The semi-join runs before the tokenizer ever does.
    // (Measured cost of this machinery at sf0.1, where ~every doc IS
    // pair-involved and the pre-filter can't prune: ~0.7 s of q209's
    // ~12 s — the r10→ plan change behind the q209 level shift, priced
    // and accepted in BENCHNOTES_r12; at the corpus scales this operator
    // exists for, the semi-join is the difference between featuring the
    // pair node set and featuring the corpus.)
    val ids = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    val involved = docs.join(ids, Seq(idCol), "left_semi")
    val feats = Lineage.truncate(
      withSimhash(involved.select(col(idCol), col(textCol)), Seq(idCol), col(textCol), simBits)
        .join(
          involved.select(col(idCol), size(graft.functions.TextAnalysis.tokenSet(col(textCol))).as("nt")),
          Seq(idCol),
        )
    )
    pairs
      .join(feats.select(col(idCol).as("id_a"), col("simhash").as("__sa"), col("nt").as("__na")), Seq("id_a"))
      .join(feats.select(col(idCol).as("id_b"), col("simhash").as("__sb"), col("nt").as("__nb")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        col("jaccard"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int").as("hamming"),
        expr("least(__na, __nb) * 1000 div greatest(__na, __nb)").as("size_ratio_milli"),
      )
  }

  /** Cluster-tightness report for near-dup clusters: close the qualifying
    * pair graph ([[connectedComponents]] over [[minhashNearDupPairs]]),
    * then per cluster the member count and the min/mean of the WITHIN-
    * cluster qualifying-pair jaccards — tight clusters (min ≈ mean ≈ 1) are
    * exact-dup families safe to collapse to one survivor; loose ones
    * (low min) are chains glued by transitivity and deserve a human look
    * before deletion. The dedup-side sibling of [[graft.operators
    * .IvfIndex.clusterQuality]].
    *
    * Scale: CC runs on the (small) qualifying pair graph; the report joins
    * pairs to labels (two id-keyed joins of fixed-width rows) and
    * aggregates per cluster. Jaccards quantize to per-mille BEFORE
    * aggregation so the mean is an exact sum + one IEEE division.
    */
  def clusterTightness(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.8,
  ): DataFrame = {
    val pairs = Lineage.truncate(
      minhashNearDupPairs(docs, idCol, textCol, k, bands, threshold)
        .select(col("id_a"), col("id_b"), floor(col("jaccard") * 1000 + lit(0.5)).cast("long").as("__jq"))
    )
    val comps = Lineage.truncate(
      connectedComponentsAdaptive(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    )
    val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
    pairs
      .join(comps.select(col("id").as("id_a"), col("comp")), Seq("id_a"))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_pairs"),
        min(col("__jq")).as("min_jaccard_milli"),
        (sum(col("__jq")).cast("double") / count(lit(1))).as("mean_jaccard_milli"),
      )
      .join(sizes, Seq("comp"))
      .select(
        col("comp").as("cluster_id"),
        col("n_members"),
        col("n_pairs"),
        col("min_jaccard_milli"),
        col("mean_jaccard_milli"),
      )
  }

  /** Near-dup cluster canonicalization: pick ONE representative per cluster
    * — the longest member (whitespace token count), doc-id ascending on
    * ties — and report what keeping it drops. The "which copy survives
    * dedup" policy step that follows clustering in every curation pipeline
    * (keep-longest beats keep-first when near-dups are truncations of each
    * other).
    *
    * Scale: pairs ride ONE banded-LSH materialization (never all-pairs),
    * CC runs on the qualifying pair graph only, and the token count is
    * computed ONLY for clustered docs (the comps join prunes the corpus
    * before the tokenizer runs). The representative pick is one window
    * over cluster members — cluster-bounded, not corpus-bounded.
    */
  def neardupKeepBest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.8,
  ): DataFrame = {
    val pairs = Lineage.truncate(
      minhashNearDupPairs(docs, idCol, textCol, k, bands, threshold)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    )
    val comps = connectedComponentsAdaptive(pairs)
    val members = docs
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol))
      .select(col(idCol), col("comp"), size(TextAnalysis.wsTokens(col(textCol))).as("__toks"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("comp")).orderBy(col("__toks").desc, col(idCol))
    members
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("__rn") === 1, col(idCol))).as("rep_doc_id"),
        max(when(col("__rn") === 1, col("__toks"))).as("rep_tokens"),
      )
      .select(
        col("comp").as("cluster_id"),
        col("rep_doc_id"),
        col("rep_tokens").cast("int").as("rep_tokens"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"),
      )
  }

  /** b-bit MinHash calibration (Li–König): store only the LOW `b` bits of
    * each minhash (a 64× storage cut at b=1 for k longs), estimate Jaccard
    * from b-bit agreement with the collision correction
    * `Ĵ = (â − 2^-b) / (1 − 2^-b)`, and report the estimate NEXT TO the
    * exact Jaccard for every banding candidate — the "can I afford the
    * compressed signatures?" readout, the storage-side sibling of
    * [[minhashCalibration]]. The estimate is an exact cross-multiplied
    * integer per-mille: `((a·2^b − k)·1000) div (k·(2^b − 1))`, clamped at
    * 0 (chance-level agreement can dip below the correction).
    *
    * Scale: the b-bit signatures ride the SAME banding pair table —
    * one projection on each join side, no extra pass over the corpus.
    */
  def bbitCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
      b: Int = 2,
      threshold: Double = 0.5,
      sampleDen: Int = 1,
      minAgree: Int = 4,
  ): DataFrame = {
    require(b >= 1 && b <= 16, s"bbitCalibration: b must be in [1, 16]: $b")
    require(sampleDen >= 1, s"bbitCalibration: sampleDen must be >= 1: $sampleDen")
    val mask = (1L << b) - 1
    // Both agreements are PROJECTIONS on the signatures riding the banding
    // join (bb_i is a pure function of mh_i) — one corpus minhash pass,
    // no signature re-computation, no join-back by id. (An earlier version
    // recomputed signatures and joined them onto the verified pairs: two
    // extra shuffles and a second corpus pass for values already present.)
    val fullAgree = (0 until k)
      .map(i => when(col(s"l.mh$i") === col(s"r.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val bbAgree = (0 until k)
      .map(i =>
        when(col(s"l.mh$i").bitwiseAND(lit(mask)) === col(s"r.mh$i").bitwiseAND(lit(mask)), 1)
          .otherwise(0)
      )
      .reduce(_ + _)
    // Calibration is statistical — the [[minhashCalibration]] deterministic
    // pair-mix sample bounds the report without biasing it; applied BEFORE
    // the token join (the expensive half), it commutes with the verify.
    val keep =
      if (sampleDen <= 1) lit(true)
      else ((col("id_a") % 999983L) * 999979L + col("id_b") % 999983L) % sampleDen === 0
    val cand = bandedPairs(docs, idCol, textCol, k, bands)
      .filter(fullAgree >= minAgree)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), bbAgree.cast("long").as("__a"))
      .filter(keep)
    val toks =
      docs.select(col(idCol).as("id"), TextAnalysis.hashedTokenSet(col(textCol)).as("toks"))
    val pow = 1L << b
    cand
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .filter(sizeRatioOk(size(col("toks_a")), size(col("toks_b")), threshold))
      .withColumn("jaccard", jaccardHashed(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        floor(col("jaccard") * 1000 + lit(0.5)).cast("long").as("jaccard_milli"),
        greatest(expr(s"((__a * $pow - $k) * 1000) div ($k * ${pow - 1})"), lit(0L)).as("bbit_est_milli"),
      )
  }
}
