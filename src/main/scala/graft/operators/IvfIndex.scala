package graft.operators

import graft.functions.{CosineSimilarity, Hashing}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: k-means coarse quantizer + per-centroid
  * posting lists + nprobe search. The second scale path next to
  * [[Similarity.lshTopK]]:
  *
  *  - **train**: Lloyd iterations in pure DataFrame ops — assignment is a
  *    shuffle-free projection argmax against the `nlist`-entry codebook
  *    literal (see [[assign]]), the update is a posexplode →
  *    per-(centroid, dim) mean → re-assembled array. Deterministic: init =
  *    first `nlist` vectors by id, no RNG. At 100 TB you train on a sample
  *    (`sampleFraction` — the quantizer needs thousands of points per
  *    centroid, not the corpus) and only the ASSIGN pass scans everything —
  *    a map-only projection, zero shuffle.
  *  - **search**: probe the `nprobe` nearest centroids per query, exact
  *    cosine rerank inside those posting lists only. Work per query is
  *    `nprobe/nlist` of the corpus instead of all of it.
  */
object IvfIndex {
  // Test-only observability of the batch-landing sweep bound (how many
  // cell dirs the last [[appendToAdcIndex]] landing listed for prior
  // files, and whether it fell back to the full sweep) — driver-side
  // counters in the spirit of Sink's accumulators, never read by any
  // operator logic.
  @volatile private[graft] var lastLandingSweepCells: Int = 0
  @volatile private[graft] var lastLandingSweepFull: Boolean = false

  private def cos(a: Column, b: Column): Column = CosineSimilarity.cosine(a, b)

  /** Centroids as a DataFrame (centroid_id, centroid: array<float>).
    *
    * `sampleFraction` < 1 trains the quantizer on a deterministic hash-based
    * sample (md5 of the id — reproducible on any engine and under any
    * partitioning, unlike `df.sample`, whose seed is per-partition): Lloyd
    * iterations then never scan the corpus. The seed codebook and every
    * iteration use the same sample, so training is still fully deterministic.
    */
  def train(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int,
      sampleFraction: Double = 1.0,
  ): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0, s"sampleFraction must be in (0, 1]: $sampleFraction")
    val training =
      if (sampleFraction >= 1.0) corpus
      else corpus.filter(pmod(Hashing.hash64(col(idCol).cast("string")), lit(1000000L)) < (sampleFraction * 1e6).toLong)
    var centroids = training
      .orderBy(col(idCol))
      .limit(nlist)
      .select((row_number().over(Window.orderBy(col(idCol))) - 1).as("centroid_id"), col(vecCol).as("centroid"))
    for (_ <- 0 until iters) {
      val assigned = assign(training, centroids, idCol, vecCol)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))), s => s.getField("m").cast("float"))
            .as("centroid")
        )
    }
    // A Lloyd round that empties a cell DROPS it (no members, no mean),
    // leaving a gap in the id sequence — and downstream consumers index
    // codebook literals BY id ([[residualTable]]'s contiguity require, the
    // residual literal's element_at). Re-number survivors to 0..n-1 so a
    // dataset-dependent empty cell can never abort a residual pipeline at
    // scale; order (and therefore the assign tie rule's relative ranking)
    // is preserved, and when no cell empties — every case the oracles
    // exercise — the renumbering is the identity.
    if (iters > 0)
      centroids = centroids.select(
        (row_number().over(Window.orderBy(col("centroid_id"))) - 1).as("centroid_id"),
        col("centroid"),
      )
    centroids
  }

  /** Nearest-centroid assignment as a pure projection — ZERO shuffle.
    *
    * The codebook is tiny (`nlist` rows) and, unlike the corpus, bounded by
    * construction, so it is collected once to the driver and embedded as a
    * single array-of-struct literal; the argmax is then
    * `array_max(transform(codebook, c -> (cos(vec, c.vec), -c.id)))` — struct
    * ordering is lexicographic, so this is exactly
    * `max_by(centroid_id, struct(cos, -centroid_id))` (max similarity,
    * ties to the LOWEST centroid id; [[CosineSimilarity.compute]] never
    * yields NaN) with no join and no aggregation. At 100 TB this is the
    * full-corpus posting-list pass, and it now runs as a map-only stage
    * inside whole-stage codegen instead of a corpus-wide groupBy shuffle of
    * id + vector bytes.
    *
    * `withSim = true` adds the winning cosine as a `sim` column — the same
    * struct's other field, free in the same projection (callers that need
    * "how close to my centroid", e.g. [[Similarity.semDedup]]'s
    * representative policy, must not pay a centroid re-join for it).
    *
    * `keep` carries extra input columns through the projection unchanged
    * (appended after the standard output) — callers that tag rows (e.g.
    * [[oodDriftGate]]'s base/increment flag) must not pay a self-join to
    * get their tag back.
    */
  def assign(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      withSim: Boolean = false,
      keep: Seq[String] = Nil,
  ): DataFrame = {
    // ONE bounded collect does triple duty — materialize the codebook plan,
    // enforce the size fence, and fetch the rows. The previous shape
    // (eager truncate + a limit(max+1) count probe + an orderBy collect)
    // paid THREE driver actions per assign call — and assign runs once per
    // corpus encode/train pass, so a composed lifecycle query paid it
    // several times over. The limit bounds what can ever reach the driver
    // (≤ maxCentroids+1 rows, a fixed ceiling), so the fence still fires
    // loudly on a corpus-sized input instead of OOMing inside an unbounded
    // collect; the codebook plan executes exactly once (no truncate
    // needed — nothing reads it twice anymore); ordering happens
    // driver-side on the ≤ 2^20 collected rows (the same rows the old
    // orderBy shipped).
    val maxCentroids = 1 << 20
    val cents: Seq[(Int, Seq[Float])] = centroids
      .limit(maxCentroids + 1)
      .collect()
      .toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(
      cents.size <= maxCentroids,
      s"assign: >$maxCentroids centroids — the codebook is collected to the driver and embedded " +
        "in the plan, which only makes sense for a coarse quantizer (nlist ≲ 2^20). " +
        "A codebook this size is a bug or calls for a partitioned ANN design instead.",
    )
    require(cents.nonEmpty, "assign: empty centroid codebook")
    val codebook = typedLit(cents)
    val best = array_max(
      transform(codebook, c => struct(cos(col(vecCol), c.getField("_2")).as("sim"), (-c.getField("_1")).as("negid")))
    )
    val kept = keep.map(col)
    if (!withSim)
      df.select(Seq(col(idCol), (-best.getField("negid")).as("centroid_id"), col(vecCol)) ++ kept: _*)
    else
      // Two-step projection: `best` (the full codebook cosine scan) is
      // referenced twice below, and Catalyst inlines duplicated non-cheap
      // expressions when collapsing projections (the withMinhash trap) —
      // naming it in an inner projection keeps it computed once per row.
      df.select(Seq(col(idCol), col(vecCol), best.as("__best")) ++ kept: _*)
        .select(
          Seq(
            col(idCol),
            (-col("__best").getField("negid")).as("centroid_id"),
            col(vecCol),
            col("__best").getField("sim").as("sim"),
          ) ++ kept: _*
        )
  }

  /** Product quantization codes: split each vector into `m` contiguous
    * `subDim`-wide subvectors, train an independent `nlist`-entry codebook
    * per subspace ([[train]]'s deterministic Lloyd on the SLICED vectors),
    * and emit each vector's per-subspace code — the `m × log2(nlist)`-bit
    * compressed representation ANN systems store in place of floats
    * (IVF-PQ's fine quantizer). Output: (id, subspace, code).
    *
    * Scale design: per subspace, training is [[train]] (sampleable via its
    * own knob at real scale; here the slices are cheap) and the coding
    * pass is [[assign]]'s zero-shuffle codebook-literal argmax over the
    * slice — the full-corpus work is `m` map-only projections. Total
    * driver actions: `m × iters` codebook collects of `nlist` rows each.
    */
  def pqCodes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      subDim: Int,
      nlist: Int,
      iters: Int,
  ): DataFrame = {
    require(m >= 1 && subDim >= 1 && nlist >= 1 && iters >= 0, "pqCodes: all sizes must be positive")
    (0 until m)
      .map { sub =>
        val sliced = corpus.select(col(idCol), slice(col(vecCol), sub * subDim + 1, subDim).as("__sv"))
        val codebook = train(sliced, idCol, "__sv", nlist, iters)
        assign(sliced, codebook, idCol, "__sv")
          .select(col(idCol), lit(sub).as("subspace"), col("centroid_id").as("code"))
      }
      .reduce(_ unionAll _)
  }

  /** All `m` per-subspace PQ codebooks trained in CORPUS-SCAN-BOUNDED
    * passes: instead of one [[train]] per subspace (m × (iters+1) corpus
    * scans — each per-subspace Lloyd collect re-reads every row to slice
    * out its own subvector), the corpus explodes ONCE into an
    * (id, subspace, slice) table and every Lloyd round trains all m
    * codebooks in one scan — a per-(subspace, centroid, dim) mean keyed by
    * subspace, collected as m·nlist tiny rows. Total scans: `iters + 1`
    * (seed + one per round), independent of m.
    *
    * Numerically IDENTICAL to the per-subspace [[train]] path: same seed
    * (first `nlist` vectors by id, per subspace), same argmax rule
    * (max cosine, ties to the LOWEST centroid id — ids carried through the
    * literal, so a centroid that empties keeps its id like [[assign]]
    * does), same per-(centroid, pos) mean → float cast. Verified by the
    * q248/q250 oracle hashes, which pin the whole downstream pipeline.
    */
  /** Negative squared L2 distance (sequential-double sum, the mirror's
    * order) — the PQ-native assignment score ([[pqTrainAll]] `metric =
    * "l2"`): max(-||a−b||²) = argmin distance, and the tie rule stays
    * "max score, lowest id" in the same struct-max shape as cosine.
    */
  private def negL2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, v) => acc + v,
    ) * lit(-1.0)

  private[graft] def pqTrainAll(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      subDim: Int,
      nlist: Int,
      iters: Int,
      metric: String = "cos",
      seedNonZero: Boolean = false,
  ): IndexedSeq[Seq[(Int, Seq[Float])]] = {
    require(m >= 1 && subDim >= 1 && nlist >= 1 && iters >= 0, "pqTrainAll: all sizes must be positive")
    require(metric == "cos" || metric == "l2", s"pqTrainAll: metric must be cos|l2: $metric")
    def score(a: Column, b: Column): Column = if (metric == "cos") cos(a, b) else negL2(a, b)
    val sliced = corpus
      .select(
        col(idCol).as("__id"),
        explode(
          array((0 until m).map(sub => struct(lit(sub).as("sub"), slice(col(vecCol), sub * subDim + 1, subDim).as("sv"))): _*)
        ).as("e"),
      )
      .select(col("__id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    def collectCodebooks(df: DataFrame): IndexedSeq[Seq[(Int, Seq[Float])]] = {
      val rows = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      (0 until m).map(sub => rows.filter(_._1 == sub).sortBy(_._2).map(t => (t._2, t._3)).toSeq)
    }
    // seedNonZero skips zero slices when seeding: a RESIDUAL corpus has
    // identically-zero rows for every vector that IS a coarse centroid
    // (v − c = 0), and an all-zero seed set is degenerate — every score
    // ties, Lloyd assigns everything to centroid 0 and the codebook
    // collapses to one entry (measured: recall → 0).
    val seedPool =
      if (!seedNonZero) sliced
      else sliced.filter(aggregate(col("sv"), lit(0.0), (acc, x) => acc + abs(x.cast("double"))) > 0)
    val wseed = Window.partitionBy(col("sub")).orderBy(col("__id"))
    var cbs = collectCodebooks(
      seedPool
        .withColumn("rn", row_number().over(wseed))
        .filter(col("rn") <= nlist)
        .select(col("sub"), (col("rn") - 1).cast("int").as("centroid_id"), col("sv"))
    )
    for (_ <- 0 until iters) {
      // The full m-codebook set is one tiny literal; each row scores only
      // its OWN subspace's entries via element_at — the assign argmax rule.
      val myCb = element_at(typedLit(cbs.map(_.toIndexedSeq).toIndexedSeq), col("sub") + 1)
      val best = array_max(
        transform(myCb, c => struct(score(col("sv"), c.getField("_2")).as("sim"), (-c.getField("_1")).as("negid")))
      )
      cbs = collectCodebooks(
        sliced
          .select(col("sub"), (-best.getField("negid")).cast("int").as("centroid_id"), col("sv"))
          .select(col("sub"), col("centroid_id"), posexplode(col("sv")))
          .groupBy(col("sub"), col("centroid_id"), col("pos"))
          .agg(avg(col("col")).as("m"))
          .groupBy(col("sub"), col("centroid_id"))
          .agg(
            transform(array_sort(collect_list(struct(col("pos"), col("m")))), s => s.getField("m").cast("float"))
              .as("sv")
          )
      )
    }
    cbs
  }

  /** nprobe ANN search: for each query, rerank exactly within the posting
    * lists of its `nprobe` closest centroids.
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int,
      k: Int,
  ): DataFrame = {
    val posting = assign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"), col(vecCol).as("cvec"))
    val wq = Window.partitionBy(col("query_id")).orderBy(cos(col("qvec"), col("centroid")).desc, col("centroid_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qvec"), col("centroid_id"))
    val scored = posting
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cos(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Sequential-double dot product of two float arrays — the DuckDB
    * `list_sum(list_transform(...))` order, so quantized values agree
    * across engines. Builtin composition, not a custom Expression: the ADC
    * table build is queries × nlist × m (tiny), never the corpus hot path.
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  private def q6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)).cast("long")

  /** IVF-PQ search with asymmetric-distance (ADC) candidate scoring — the
    * 100 TB memory story for ANN (public knowledge: Jégou, Douze, Schmid,
    * "Product quantization for nearest neighbor search", TPAMI 2011; the
    * FAISS IVF-PQ serving shape): the candidate pass never touches full
    * vectors, only `m`-byte PQ codes and per-query lookup tables.
    *
    *  1. **Train + encode** (corpus side): coarse cell via [[assign]] and
    *     the `m` per-subspace PQ codes in ONE map-only projection per row —
    *     two codebook-literal argmaxes inside whole-stage codegen; full
    *     vectors are dropped at this boundary. (Same deterministic Lloyd
    *     as [[pqCodes]]; same cosine-argmax coding rule, ties to the
    *     lowest code.)
    *  2. **Tables** (query side): for each query and subspace, the dot
    *     product of the query's subvector against every codebook entry,
    *     per-micro quantized to a Long — an `m × nlist` integer table per
    *     query, broadcast with its probes (32 longs per probe row at the
    *     q162 constants).
    *  3. **ADC scoring**: candidates = posting-list rows of the `nprobe`
    *     probed cells; approximate similarity = Σ_s table[s][code_s] — an
    *     integer table-lookup sum in a projection, no vectors, no
    *     per-subspace fan-out. Top `candK` per query survive.
    *  4. **Exact rerank**: only the survivors join their full vectors back
    *     (broadcast — `candK` rows per query), exact cosine, top `k`.
    *
    * Output: (query_id, rank, neighbor_id, sim_q, adc) — the exact cosine
    * per-micro quantized, plus the integer ADC score that selected the
    * candidate (the diagnostic for "was ADC ranking close to exact?").
    *
    * Scale: the corpus is scanned twice (encode; survivor vector fetch),
    * shuffled never — candidates shuffle as (query, neighbor, codes, adc)
    * rows for the two bounded windows. Approximation is two-stage by
    * design: ADC ranks by reconstructed inner product (additive per
    * subspace; cosine is not), the rerank restores the true metric —
    * grade recall with [[adcRecallReport]] before serving, the q185 rule.
    */
  def adcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      subDim: Int,
      pqNlist: Int,
      pqIters: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
  ): DataFrame = {
    require(m >= 1 && subDim >= 1 && pqNlist >= 1 && pqIters >= 0, "adcTopK: all sizes must be positive")
    require(candK >= k, s"adcTopK: candK ($candK) must be >= k ($k) — the rerank can only drop")
    // Per-subspace codebooks in ONE exploded pass per Lloyd round
    // ([[pqTrainAll]] — iters+1 corpus scans total, independent of m).
    val cbs = pqTrainAll(corpus, idCol, vecCol, m, subDim, pqNlist, pqIters)
    val encoded = adcEncode(corpus, idCol, vecCol, centroids, cbs, m, subDim)
    val probes = adcProbes(queries, idCol, vecCol, centroids, nprobe)
    val qtables = adcTables(queries, idCol, vecCol, cbs, m, subDim)
    adcSearch(encoded, probes, qtables, corpus, queries, idCol, vecCol, m, candK, k)
  }

  /** Corpus encode pass for the ADC pipeline: coarse cell + m PQ codes in
    * ONE projection, vectors dropped here — nothing downstream of this
    * select carries floats. Output: (neighbor_id, centroid_id, codes).
    * This is the persistable index payload ([[adcTopK]] step 1): write it
    * (plus the centroids and `cbs` codebooks) and a later session serves
    * [[adcSearch]] from the stored table without re-training.
    */
  private[graft] def adcEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      cbs: IndexedSeq[Seq[(Int, Seq[Float])]],
      m: Int,
      subDim: Int,
  ): DataFrame = {
    val codeExprs: Seq[Column] = (0 until m).map { sub =>
      val sv = slice(col(vecCol), sub * subDim + 1, subDim)
      val best = array_max(
        transform(
          typedLit(cbs(sub)),
          c => struct(cos(sv, c.getField("_2")).as("sim"), (-c.getField("_1")).as("negid")),
        )
      )
      (-best.getField("negid")).cast("int")
    }
    assign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"), array(codeExprs: _*).as("codes"))
  }

  /** Query probe pass: each query's `nprobe` nearest coarse cells, query
    * vectors dropped at the exit. Output: (query_id, centroid_id).
    */
  private[graft] def adcProbes(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int,
  ): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(cos(col("qvec"), col("centroid")).desc, col("centroid_id"))
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
  }

  /** Per-query quantized ADC lookup tables, ONE row per query — broadcast
    * separately from the probes: embedding the m × nlist table in each
    * probe row would inflate the broadcast by a factor of nprobe (it grows
    * as nprobe·m·nlist per query at serving-scale parameters); keyed by
    * query_id it joins the candidates AFTER the centroid match instead.
    */
  private[graft] def adcTables(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cbs: IndexedSeq[Seq[(Int, Seq[Float])]],
      m: Int,
      subDim: Int,
  ): DataFrame = {
    val tableExpr = array((0 until m).map { sub =>
      val qsv = slice(col(vecCol), sub * subDim + 1, subDim)
      transform(typedLit(cbs(sub).map(_._2)), cen => q6(dot(qsv, cen)))
    }: _*)
    queries.select(col(idCol).as("query_id"), tableExpr.as("tables"))
  }

  /** ADC candidate rows for a probe set: posting-list rows of the probed
    * cells with the integer table-lookup similarity attached — no vectors,
    * no per-subspace fan-out. The tables join is a broadcast hash join in
    * the SAME stage as the score projection, so tables reach candidate
    * rows but never an Exchange. Output: (query_id, neighbor_id, adc).
    */
  private def adcScored(encoded: DataFrame, probes: DataFrame, qtables: DataFrame, m: Int): DataFrame = {
    val adcExpr = aggregate(
      sequence(lit(0), lit(m - 1)),
      lit(0L),
      (acc, s) => acc + element_at(element_at(col("tables"), s + 1), element_at(col("codes"), s + 1) + 1),
    )
    encoded
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qtables), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), adcExpr.as("adc"))
  }

  /** ADC scoring + candK cut + exact rerank over a pre-built index
    * ([[adcEncode]] output — in-lineage or read back from a persisted
    * lake table). See [[adcTopK]] for the full pipeline contract.
    */
  private[graft] def adcSearch(
      encoded: DataFrame,
      probes: DataFrame,
      qtables: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      candK: Int,
      k: Int,
  ): DataFrame =
    adcCutAndRerank(adcScored(encoded, probes, qtables, m), corpus, queries, idCol, vecCol, candK, k)

  /** candK cut + exact rerank over an ADC-scored candidate set — shared by
    * the plain ([[adcSearch]]) and residual ([[adcTopKResidual]]) pipelines.
    */
  private def adcCutAndRerank(
      scored: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candK: Int,
      k: Int,
  ): DataFrame = {
    val wadc = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val survivors = scored
      .withColumn("arank", row_number().over(wadc))
      .filter(col("arank") <= candK)
      .select(col("query_id"), col("neighbor_id"), col("adc"))
    // Exact rerank: survivors only rejoin their vectors. The survivor set
    // (candK × queries rows) broadcasts; the corpus streams past it with
    // no shuffle — at 100 TB the rerank must never repartition the corpus.
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(survivors), Seq("neighbor_id"))
      .join(
        broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        Seq("query_id"),
      )
      .withColumn("sim", cos(col("__qv"), col("__nv")))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), q6(col("sim")).as("sim_q"), col("adc"))
  }

  /** Persist the ADC serving index — the q105/q124 incremental-index rule
    * applied to ANN: train + encode ONCE, write the artifacts, and every
    * later serving session queries the stored index without re-training or
    * re-encoding (at 100 TB the encode pass IS the cost; queries are not).
    * Layout under `dir`:
    *
    *  - `codes/centroid_id=<cell>/…` — the [[adcEncode]] output
    *    (neighbor_id, codes), PARTITIONED BY the coarse cell: a serving
    *    read joins the broadcast probe set on the partition column, so
    *    Spark's dynamic partition pruning visits only the probed cells'
    *    directories — the on-disk analog of an inverted file's posting
    *    lists (nprobe/nlist of the index read per query batch, never all
    *    of it);
    *  - `centroids/` — the coarse codebook (centroid_id, centroid);
    *  - `codebooks/` — the PQ codebooks (subspace, centroid_id, centroid);
    *  - `meta/` — one row (variant, metric, m, sub_dim): the layout's
    *    self-description, so append and serving DISPATCH on what the index
    *    is instead of trusting the caller to remember how it was built.
    *
    * `variant = "residual"` stores the full FAISS-IVFPQ shape instead:
    * codes quantize `v − centroid(cell)` through L2-trained residual
    * codebooks ([[adcTopKResidual]]'s encode — the curve's cheapest recall
    * lever made durable); same three artifacts, same cell partitioning,
    * same dynamic-pruned serving read.
    */
  def saveAdcIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      subDim: Int,
      pqNlist: Int,
      pqIters: Int,
      dir: String,
      variant: String = "plain",
  ): Unit = {
    require(variant == "plain" || variant == "residual", s"saveAdcIndex: variant must be plain|residual: $variant")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (cbs, encoded) =
      if (variant == "plain") {
        val cbs = pqTrainAll(corpus, idCol, vecCol, m, subDim, pqNlist, pqIters)
        (cbs, adcEncode(corpus, idCol, vecCol, centroids, cbs, m, subDim))
      } else {
        val rsd = Lineage.truncate(residualTable(corpus, idCol, vecCol, centroids))
        val cbs = residualCodebooks(rsd, idCol, m, subDim, pqNlist, pqIters)
        (cbs, residualEncodeFromRsd(rsd, idCol, cbs, m, subDim))
      }
    // meta/ is written FIRST: every later artifact read fails LOUDLY when
    // absent (a missing parquet path), but a missing meta/ used to read
    // back as variant = "plain" — a residual save that crashed after
    // codes/ but before meta/ would have dispatched plain-PQ math onto
    // residual codes, the silent corruption the dispatch exists to
    // prevent. With meta first, every crash point leaves an index that is
    // either fully described or loudly unreadable. (Re-saving INTO a live
    // index dir still interleaves old and new artifacts mid-write — build
    // replacements in a fresh dir and swap, the compaction rule.)
    val metric = if (variant == "plain") "cos" else "l2"
    Seq((variant, metric, m, subDim))
      .toDF("variant", "metric", "m", "sub_dim")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/meta")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    cbs.zipWithIndex
      .flatMap { case (cb, sub) => cb.map { case (cid, cen) => (sub, cid, cen) } }
      .toDF("subspace", "centroid_id", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/codebooks")
    encoded.write
      .mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(s"$dir/codes")
  }

  /** The layout self-description of a persisted index — "plain" for
    * layouts written before `meta/` existed (every pre-residual index was
    * plain, so the default is also the correct back-reading).
    */
  private[graft] def loadVariant(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    // Hadoop FS, not java.io — the index lives on whatever filesystem the
    // lake does (HDFS/object store at scale; local in tests).
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) "plain"
    else {
      // Metadata-scale direct read (one row) — see readAdcManifestRefs.
      val rows = MetaIO.readGroups(spark.sparkContext.hadoopConfiguration, s"$dir/meta")
      require(rows.nonEmpty, s"loadVariant: $dir/meta holds no rows - a corrupt index self-description")
      val v = MetaIO.str(rows.head, "variant")
      require(v == "plain" || v == "residual", s"loadVariant: unknown index variant '$v' at $dir")
      v
    }
  }

  /** The PQ codebooks of a persisted index, read back for the driver-side
    * literal (m × nlist tiny rows — the [[assign]] collect rule).
    */
  private def loadCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      m: Int,
  ): IndexedSeq[Seq[(Int, Seq[Float])]] = {
    // Metadata-scale direct read (m × nlist tiny rows that become a
    // driver-side literal anyway) — see readAdcManifestRefs. The ordering
    // the old orderBy established happens driver-side.
    val rows = MetaIO
      .readGroups(spark.sparkContext.hadoopConfiguration, s"$dir/codebooks")
      .map(g => (MetaIO.int32(g, "subspace"), MetaIO.int32(g, "centroid_id"), MetaIO.floatSeq(g, "centroid")))
      .sortBy(t => (t._1, t._2))
    val cbs = (0 until m).map(sub => rows.filter(_._1 == sub).map(t => (t._2, t._3)).toSeq)
    require(cbs.forall(_.nonEmpty), s"loadCodebooks: $dir/codebooks is missing subspaces (m=$m)")
    cbs
  }

  /** Append a NEW batch of vectors to a persisted index WITHOUT
    * retraining — the q105/q124 incremental rule applied to ANN: the
    * coarse centroids and PQ codebooks are FROZEN artifacts of the base
    * corpus (retraining per batch would re-encode the world and silently
    * move every stored code); the increment pays exactly its own
    * [[adcEncode]] map-only pass and appends into the same
    * cell-partitioned layout. At 100 TB this is the difference between a
    * nightly index rebuild and a nightly increment. The drift tripwire
    * for WHEN the frozen codebooks have gone stale is [[oodCensus]]/
    * [[adcRecallReport]] over a fresh sample — quantization quality is
    * graded, not assumed.
    *
    * `batchId` makes the append IDEMPOTENT (the streaming-replay
    * contract): the batch's files land NAMED `batch<id>-…` — the landing
    * deletes any prior files of the same batch before moving the fresh
    * ones in, so a microbatch replayed after a crash-between-append-and-
    * checkpoint re-lands the IDENTICAL final state instead of doubling
    * its rows in the served posting lists. Crash anywhere inside the
    * landing and the replay restores: the scratch write is overwrite, the
    * delete covers partial prior landings, and only then do the renames
    * move files live. The idempotency window ends at the first op that
    * REWRITES the batch's files away from their `batch<id>-` names —
    * [[compactAdcIndexCodes]] (bins victim files) and
    * [[repairDriftedIndexCells]] (re-encodes flagged cells) both do — so
    * a batch replayed after either would re-land its rows as duplicates.
    * Both ops therefore take the ingest checkpoint's committed offset as
    * `minRetainedBatchId` and refuse loudly to rewrite a landing at or
    * above it: batches below the watermark are fenced (the checkpoint
    * committed; they can no longer replay) and safe to rewrite; batches
    * above it stay under their replay names (compaction retains them,
    * repair refuses the whole index — a replay after a repair re-assigns
    * against moved centroids, so any unfenced landing's rows can migrate
    * cells). `batchId = None` keeps the plain one-shot
    * `mode("append")`. The landing's scratch-to-live file moves ride the
    * [[swapCellDirsIn]] filesystem contract — atomic rename; see its
    * Scaladoc for the object-store manifest-commit alternative.
    *
    * CONCURRENCY transient worth naming (shared with the dedup landing):
    * on a manifest index, a REPLAY's sweep supersedes files the
    * pre-crash generation still references; until the re-commit
    * publishes the healed refs, a snapshot reader resolving that
    * generation can fail on the swept batch. This is a crash-recovery
    * transient — the replay exists only because the checkpoint never
    * committed — not a steady state.
    *
    * Returns the TOUCHED cells (batch-keyed landings; the scratch write
    * names them for free) — what [[commitAdcBatchToManifest]] needs to
    * bound its listing to O(touched). A plain `batchId = None` append
    * returns empty: Spark wrote straight into the tree.
    */
  def appendToAdcIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      batchId: Option[Long] = None,
  ): Seq[Int] = {
    // Centroids resolve through the MANIFEST when one exists: a manifest
    // drift repair commits a versioned centroids_g<gen> table and never
    // touches $dir/centroids, so reading the live dir here would assign
    // and residual-encode every post-repair increment against the STALE
    // centroids while snapshot serving scores with the repaired ones —
    // silently wrong ADC math for every appended row in a repaired cell.
    val fsm = new org.apache.hadoop.fs.Path(s"$dir/codes").getFileSystem(spark.sessionState.newHadoopConf())
    val manifestGens = listAdcGens(fsm, dir)
    val centroidsPath =
      if (manifestGens.isEmpty) s"$dir/centroids"
      else centroidsPathOf(dir, readAdcManifestRefs(spark, dir, manifestGens.max))
    val centroids = spark.read.parquet(centroidsPath)
    val cbs = loadCodebooks(spark, dir, m)
    val subDim = cbs.head.head._2.length
    // Dispatch on the LAYOUT's variant, not a caller flag: encoding an
    // increment with the wrong quantizer family would silently corrupt
    // every posting list it touches.
    val encoded = loadVariant(spark, dir) match {
      case "residual" =>
        residualEncodeFromRsd(residualTable(increment, idCol, vecCol, centroids), idCol, cbs, m, subDim)
      case _ =>
        adcEncode(increment, idCol, vecCol, centroids, cbs, m, subDim)
    }
    batchId match {
      case None =>
        // Structural composition rule: a MANIFEST index accepts only
        // batch-keyed landings. A plain append writes straight into the
        // tree, so the touched-cell set is never observed and the commit
        // ([[commitAdcBatchToManifest]]) would silently degrade to the
        // full O(nlist) listing — and without a batch key the landing has
        // no replay-idempotency name for the commit to heal. The rule was
        // a Scaladoc caveat; this makes it a fence.
        require(
          manifestGens.isEmpty,
          s"appendToAdcIndex: $dir is MANIFEST-committed - a manifest commit needs the landing's " +
            "touched cells and its replay key, which only a batch-keyed landing observes. Pass " +
            "batchId = Some(<the ingest batch id>) and commit via commitAdcBatchToManifest.",
        )
        encoded.write
          .mode("append")
          .partitionBy("centroid_id")
          .parquet(s"$dir/codes")
        // plain append: Spark wrote straight into the tree, so the
        // touched-cell set wasn't observed — callers that need it use a
        // batch-keyed landing (the scratch write names the cells).
        Seq.empty[Int]
      case Some(b) =>
        val codes = s"$dir/codes"
        val scratch = s"$dir/${scratchName("codes_append_tmp", s"b$b")}"
        val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
        encoded.write
          .mode("overwrite")
          .partitionBy("centroid_id")
          .parquet(scratch)
        // The prior-landing sweep is bounded by the cells THIS encode
        // produced — the steady-state microbatch pays O(touched cells)
        // driver listings, not O(nlist) (at nlist in the tens of
        // thousands the full sweep per microbatch was the ingest
        // bottleneck). That bound is sound because the encode is
        // deterministic under the frozen codebooks and a replayed
        // microbatch re-delivers the identical rows (the foreachBatch
        // contract), so any prior landing of this batch — complete or
        // crashed mid-rename — touched a subset of these same cells. The
        // paranoid case (a prior landing from DIFFERENT code against the
        // same index dir, which the frozen-codebook contract already
        // forbids) is covered one step further: the moment ANY prior
        // file of this batch is detected, the landing falls back to the
        // full O(nlist) sweep before re-landing.
        val codesRoot = new org.apache.hadoop.fs.Path(codes)
        val scratchCells = fs
          .listStatus(new org.apache.hadoop.fs.Path(scratch))
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
        val touchedLive = scratchCells
          .map(cd => new org.apache.hadoop.fs.Path(s"$codes/${cd.getPath.getName}"))
          .filter(fs.exists)
        val priorDetected = touchedLive.exists { live =>
          fs.listStatus(live).exists(f => f.isFile && f.getPath.getName.startsWith(s"batch$b-"))
        }
        val sweepDirs =
          if (priorDetected && fs.exists(codesRoot))
            fs.listStatus(codesRoot)
              .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
              .map(_.getPath)
              .toSeq
          else touchedLive.toSeq
        // test-only observability for the bound (ExtensionSpec's
        // "landing sweep is bounded by touched cells" case)
        lastLandingSweepCells = sweepDirs.size
        lastLandingSweepFull = priorDetected
        sweepDirs.foreach { cellDir =>
          fs.listStatus(cellDir)
            .filter(f => f.isFile && f.getPath.getName.startsWith(s"batch$b-"))
            .foreach(f => fs.delete(f.getPath, false))
        }
        scratchCells
          .foreach { cellDir =>
            val live = new org.apache.hadoop.fs.Path(s"$codes/${cellDir.getPath.getName}")
            fs.mkdirs(live)
            fs.listStatus(cellDir.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .foreach { f =>
                val target = new org.apache.hadoop.fs.Path(live, s"batch$b-${f.getPath.getName}")
                require(fs.rename(f.getPath, target), s"appendToAdcIndex: landing rename failed for $target")
              }
          }
        fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
        // The touched cells — what a manifest commit needs to bound its
        // listing ([[commitAdcBatchToManifest]]'s `cells`).
        scratchCells.map(_.getPath.getName.stripPrefix("centroid_id=").toInt).toSeq.sorted
    }
  }

  /** Compact the cell-partitioned codes table of a persisted index — the
    * q167 small-file rule wired to the `codes/centroid_id=<cell>/` layout:
    * every [[appendToAdcIndex]]/streaming-ingest microbatch appends at
    * least one parquet file per touched cell, so N increments turn each
    * posting-list directory into N tiny files and the dynamically pruned
    * serving read pays N footers per probed cell. Compaction restores
    * one-file-per-bin without touching the index's CONTENT: serving
    * results are hash-identical before and after (q265 pins that against
    * the q259 append oracle).
    *
    * Shape (the standard lake-compactor loop):
    *  1. FILE CENSUS from the filesystem manifest — metadata-scale, never
    *     a data read;
    *  2. per-file bin by [[graft.ops.Lake.compactionPlan]]'s streaming
    *     rule (`bytes_before div target`, greedy in file-name order within
    *     the cell); a cell whose files already match its bins is left
    *     UNTOUCHED — re-writing compacted cells every night is how
    *     compactors turn into full rebuilds;
    *  3. ONE distributed pass over the victim cells only (the read is
    *     partition-pruned to their directories), repartitioned AND
    *     partition-written by (cell, bin) — the directory write is what
    *     GUARANTEES one file per bin: hash collisions at small bin counts
    *     can merge two bins into one task, but a task writes each
    *     (cell, bin) group into its own partition directory regardless,
    *     so "each bin lands as one file" holds by construction, not by
    *     hash luck;
    *  4. a LOUD row-count gate before the swap — a compactor must never
    *     trade files for rows — then a per-cell RENAME-ASIDE swap: the
    *     live cell dir moves to `codes_compact_aside/` first, the rewritten
    *     dir renames in, the aside copy is deleted last. Every crash point
    *     leaves the cell's rows durable in exactly one location, and the
    *     next compaction entry SELF-HEALS: an aside cell missing from the
    *     live tree renames back (crash between the two renames), an aside
    *     cell still present live is deleted (crash before the cleanup).
    *     The swap window is not atomic for a CONCURRENT reader — a serving
    *     read racing the two renames can miss the cell; a production
    *     deployment serializes compaction against serving (maintenance
    *     window or manifest commit). What the layout guarantees is that
    *     no crash can LOSE a posting list.
    *
    * `minRetainedBatchId` is the replay-idempotency watermark (the ingest
    * checkpoint's committed offset): [[appendToAdcIndex]]'s replays key
    * their delete-then-re-land on the `batch<id>-` file NAMES, so binning
    * a landing whose batch may still replay would end its idempotency
    * window silently — the replay would re-land its rows as duplicates
    * next to the bin that already holds them. Files at or above the
    * watermark are RETAINED: excluded from binning and victim selection,
    * never scanned, and carried into any rewritten cell under their
    * names (q273 replays a retained batch after compaction and serves
    * hash-identically). Compacting a batch landing with NO watermark is a
    * loud refusal, not a Scaladoc caveat. Batch-less appends
    * (`batchId = None`) carry no landing names and need no watermark.
    *
    * Returns the per-cell census (centroid_id, files_before, files_after,
    * bytes_before, bytes_after) — the observability row a maintenance job
    * logs and the number the q265 ScaleBench row reports.
    */
  // Scratch roots of every cell-dir rewrite op (compaction, drift repair):
  // content under these never reached the live tree, so the entry
  // self-heal may drop them wholesale.
  private def swapScratchRoots(dir: String): Seq[String] =
    Seq(
      s"$dir/codes_compact_tmp",
      s"$dir/codes_compact_new",
      s"$dir/codes_repair_new",
      s"$dir/centroids_repair_new",
    )

  // The batch id a code file's name carries, if any: batch-keyed landings
  // ([[appendToAdcIndex]]) name their files `batch<id>-<part>.parquet`;
  // base writes and compacted bins (`bin<b>-…`, `part-…`) carry none.
  private val LandingName = raw"batch(\d+)-.*".r
  private[graft] def batchIdOfLanding(name: String): Option[Long] = name match {
    case LandingName(id) => Some(id.toLong)
    case _ => None
  }

  // Scratch dirs embed their creation WALL CLOCK in the name
  // (`<prefix>_ts<millis>_<suffix>`) so the cleanup age gate never
  // depends on filesystem mtime: object stores routinely report epoch-0
  // mtimes for fake directory entries — under an mtime gate every
  // scratch looks infinitely stale and the grace is void, reintroducing
  // the delete-an-in-flight-staging race the grace exists to close
  // (client/store clock skew voids it the same way). The committer's own
  // clock names the scratch, the same clock the cleanup compares against
  // when cleanup runs from the maintenance driver; cross-driver skew
  // only narrows or widens the grace, never zeroes it. Names without an
  // embedded stamp (pre-stamp layouts, hand-made test dirs) fall back to
  // mtime — legacy dirs age out rather than leak.
  private[graft] def scratchName(prefix: String, suffix: String): String =
    s"${prefix}_ts${System.currentTimeMillis()}_$suffix"
  // FIRST parseable `_ts<digits>_` token (lazy prefix), not the last: every
  // scratch prefix is a `_ts`-free literal, so the stamp is always the first
  // such token — a greedy parse would instead read any later `_ts<digits>_`
  // a future SUFFIX happened to contain, misdating a live staging dir and
  // letting the sweep reclaim it mid-staging.
  private val ScratchStamp = raw".*?_ts(\d+)_.*".r
  private[graft] def scratchBornAt(name: String): Option[Long] = name match {
    case ScratchStamp(ts) => Some(ts.toLong)
    case _ => None
  }
  private[graft] def scratchIsStale(s: org.apache.hadoop.fs.FileStatus, staleBefore: Long): Boolean =
    scratchBornAt(s.getPath.getName).getOrElse(s.getModificationTime) <= staleBefore

  // The replay fence both repair modes share: list the TREE for batch
  // landings at or above the watermark. On-disk batch files outside the
  // current manifest refs are exactly the in-flight landings, so the
  // fence must list the tree, never read refs. Every cell is checked,
  // not just the flagged ones — a repair moves centroids, and a batch
  // replayed afterwards re-ASSIGNS its rows against the moved table, so
  // any unfenced landing's rows can migrate cells and its prior files
  // escape the replay's touched-cell sweep (duplicate rows served).
  private def unfencedLandingsInTree(
      fs: org.apache.hadoop.fs.FileSystem,
      codes: String,
      minRetainedBatchId: Option[Long],
  ): Seq[(Int, Long)] = {
    val root = new org.apache.hadoop.fs.Path(codes)
    if (!fs.exists(root)) Nil
    else
      fs.listStatus(root)
        .toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
        .flatMap { d =>
          val cell = d.getPath.getName.stripPrefix("centroid_id=").toInt
          fs.listStatus(d.getPath)
            .toSeq
            .flatMap(f => batchIdOfLanding(f.getPath.getName))
            .filter(id => minRetainedBatchId.forall(id >= _))
            .map(id => (cell, id))
        }
        .distinct
        .sorted
  }

  // Shared core of both repair modes, from frozen membership to encoded
  // scratch: join the stored (id, cell) posting rows to the corpus for
  // the members' vectors (loud completeness gate), take each flagged
  // cell's per-dim double mean (the train() update step), and
  // residual-encode the members against their NEW centroid under the
  // index's frozen codebooks into `scratch`, partitioned by cell, with a
  // loud row-count gate before anything is committed or swapped.
  // Returns (members, newCents, memberRows).
  private def repairEncodeMembers(
      spark: org.apache.spark.sql.SparkSession,
      stored: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cbs: IndexedSeq[Seq[(Int, Seq[Float])]],
      m: Int,
      subDim: Int,
      scratch: String,
      op: String,
  ): (DataFrame, DataFrame, Long) = {
    val storedRows = stored.count()
    val members = Lineage.truncate(
      corpus.select(col(idCol), col(vecCol)).join(stored, Seq(idCol))
    )
    val memberRows = members.count()
    require(
      memberRows == storedRows,
      s"$op: the corpus matched $memberRows of $storedRows stored members - " +
        "the repair corpus must cover every vector in the flagged posting lists exactly once.",
    )
    val newCents = Lineage.truncate(
      members
        .select(col("centroid_id"), posexplode(col(vecCol)))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))), s => s.getField("m").cast("float"))
            .as("centroid")
        )
    )
    val rsd = members
      .join(broadcast(newCents), Seq("centroid_id"))
      .select(
        col(idCol),
        col("centroid_id"),
        zip_with(col(vecCol), col("centroid"), (a, b) => a - b).as("__rv"),
      )
    residualEncodeFromRsd(rsd, idCol, cbs, m, subDim).write
      .mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(scratch)
    // Row-count gate from parquet FOOTERS: the count is exact metadata the
    // files already carry — the spark count() here re-derived it with a
    // scheduled cluster pass over the just-written scratch.
    val outRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, Seq(scratch))
    require(
      outRows == memberRows,
      s"$op: re-encode row count $outRows != member count $memberRows - " +
        "aborting before anything is committed; the index is untouched.",
    )
    (members, newCents, memberRows)
  }

  // The repair census both modes return: per flagged cell, its member
  // count and how far the centroid moved (per-micro quantized cosine
  // between the old and new centroid) — the observability row a nightly
  // job logs.
  private def repairCensus(members: DataFrame, newCents: DataFrame, oldCentroids: DataFrame): DataFrame = {
    val oldC = oldCentroids.select(col("centroid_id"), col("centroid").as("__oc"))
    members
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"))
      .join(broadcast(newCents), Seq("centroid_id"))
      .join(broadcast(oldC), Seq("centroid_id"))
      .select(
        col("centroid_id"),
        col("n_members"),
        floor(cos(col("__oc"), col("centroid")) * lit(1000000.0) + lit(0.5)).cast("long").as("centroid_shift_q"),
      )
  }

  // Shared compaction planning for both commit modes: watermark
  // partition (batch landings at or above `minRetainedBatchId` are
  // retained under their replay names), the greedy per-cell binning
  // (`bytes div target` in file-name order), victim selection (a cell
  // whose eligible files already match its bins is untouched), and the
  // loud refusal when a batch landing would be rewritten with no
  // watermark. Returns (retained, victims).
  private[graft] def planCodesCompaction(
      op: String,
      before: Seq[(Int, String, Long)],
      targetBytes: Long,
      minRetainedBatchId: Option[Long],
  ): (Seq[(Int, String, Long)], Map[Int, Seq[(Int, String, Long, Long)]]) = {
    val (retained, eligible) = before.partition { case (_, name, _) =>
      batchIdOfLanding(name).exists(id => minRetainedBatchId.exists(id >= _))
    }
    // Every file watermark-retained = nothing eligible to bin. That is a
    // legal nightly-compactor state (an index whose whole tail is still
    // inside the replay window), so it NO-OPS like any other
    // nothing-to-bin pass — both compactors commit/rewrite nothing on an
    // empty victim map.
    if (eligible.isEmpty) return (retained, Map.empty)
    val binned = eligible
      .groupBy(_._1)
      .toSeq
      .flatMap { case (cell, cellFiles) =>
        var cum = 0L
        cellFiles.sortBy(_._2).map { case (_, name, bytes) =>
          val bin = cum / targetBytes
          cum += bytes
          (cell, name, bytes, bin)
        }
      }
    val victims = binned.groupBy(_._1).filter { case (_, cf) => cf.map(_._4).distinct.size < cf.size }
    if (minRetainedBatchId.isEmpty) {
      val unfenced = victims.values.flatten
        .flatMap { case (cell, name, _, _) => batchIdOfLanding(name).map(id => (cell, id)) }
        .toSeq
        .distinct
        .sorted
      require(
        unfenced.isEmpty,
        s"$op: about to rewrite batch landings that may still replay (cell, batchId): " +
          s"${unfenced.mkString(", ")} - binning them drops the batch<id>- file names their " +
          "replay-idempotency keys on. Pass minRetainedBatchId = Some(w) (the ingest checkpoint's " +
          "committed offset: batches >= w are retained under their names, batches < w are fenced " +
          "and compactable), or Some(maxBatchId + 1) when every batch is known committed.",
      )
    }
    (retained, victims)
  }

  // Shared victim rewrite for both commit modes: read the victim FILES
  // explicitly (a retained landing in a victim cell is neither rewritten
  // nor scanned), name-join each row to its bin, and partition-write by
  // (cell, bin) into `tmp` — one file per bin by construction — with the
  // loud row-count gate before anything is deleted or committed.
  private def rewriteCompactionVictims(
      spark: org.apache.spark.sql.SparkSession,
      codes: String,
      victims: Map[Int, Seq[(Int, String, Long, Long)]],
      tmp: String,
      op: String,
  ): Unit = {
    import spark.implicits._
    val fileBin = victims.values.flatten.toSeq
      .map { case (cell, name, _, bin) => (cell, name, bin) }
      .toDF("centroid_id", "__fname", "__bin")
    val victimFiles = victims.values.flatten.toSeq.map { case (cell, name, _, _) =>
      s"$codes/centroid_id=$cell/$name"
    }
    val rows = spark.read
      .option("basePath", codes)
      .parquet(victimFiles: _*)
      .withColumn("__fname", substring_index(input_file_name(), "/", -1))
      .join(broadcast(fileBin), Seq("centroid_id", "__fname"))
      .select(col("neighbor_id"), col("codes"), col("centroid_id"), col("__bin"))
    val nBins = victims.values.flatten.map(t => (t._1, t._4)).toSeq.distinct.size
    rows
      .repartition(nBins, col("centroid_id"), col("__bin"))
      .write
      .mode("overwrite")
      .partitionBy("centroid_id", "__bin")
      .parquet(tmp)
    // Both row counts from parquet FOOTERS (exact metadata): the two
    // spark count() jobs here re-scanned the victim set and the rewrite
    // it just produced, purely to compare cardinalities.
    val inRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, victimFiles)
    val outRows = MetaIO.rowCount(spark.sparkContext.hadoopConfiguration, Seq(tmp))
    require(
      outRows == inRows,
      s"$op: rewrite row count $outRows != input $inRows over ${victimFiles.size} files - " +
        "aborting before anything is deleted or committed; the codes table is untouched.",
    )
  }

  /** SELF-HEAL any interrupted prior cell swap BEFORE an op reads the
    * tree: a cell parked aside but absent live renames back (crash
    * between the two swap renames); a cell aside AND live means the new
    * dir already landed, so the aside copy is the redundant one. Stale
    * rewrite scratch is dropped — its content never reached the live
    * tree. Shared by every op that rewrites cell dirs in place
    * ([[compactAdcIndexCodes]], [[repairDriftedIndexCells]]), so whichever
    * runs next repairs whatever was interrupted.
    */
  private def selfHealCellSwaps(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val codes = s"$dir/codes"
    val asideRoot = new org.apache.hadoop.fs.Path(s"$dir/codes_compact_aside")
    if (fs.exists(asideRoot)) {
      fs.listStatus(asideRoot)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
        .foreach { d =>
          val live = new org.apache.hadoop.fs.Path(s"$codes/${d.getPath.getName}")
          if (!fs.exists(live))
            require(fs.rename(d.getPath, live), s"selfHealCellSwaps: restore rename failed for ${d.getPath}")
          else fs.delete(d.getPath, true)
        }
      fs.delete(asideRoot, true)
    }
    // The centroids table's own two-step commit ([[repairDriftedIndexCells]]):
    // aside present + live missing = crash between its two renames —
    // restore; both present = crash before the aside delete — drop the
    // redundant copy. (Membership derives from the codes files, not the
    // centroids, so either copy re-runs the repair to the same state —
    // the restore just keeps the two-step commit's invariant: the table
    // exists in exactly one location at every crash point.)
    val cLive = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val cAside = new org.apache.hadoop.fs.Path(s"$dir/centroids_repair_aside")
    if (fs.exists(cAside)) {
      if (!fs.exists(cLive))
        require(fs.rename(cAside, cLive), s"selfHealCellSwaps: centroids restore rename failed")
      else fs.delete(cAside, true)
    }
    swapScratchRoots(dir).foreach { p =>
      val sp = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(sp)) fs.delete(sp, true)
    }
    // Batch-landing scratch ([[appendToAdcIndex]]'s codes_append_tmp_b<id>)
    // left by a crash before its renames: content never reached the live
    // tree (a replay overwrites its own batch's scratch anyway), so a
    // maintenance entry may drop it. Maintenance is fenced against live
    // ingest (the same serialization rule compaction already assumes), so
    // no landing is in flight when this sweep runs.
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(dirPath))
      fs.listStatus(dirPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("codes_append_tmp"))
        .foreach(s => fs.delete(s.getPath, true))
  }

  /** The crash-safe per-cell swap (rename-aside): live cell dir moves to
    * `codes_compact_aside/` first, the replacement renames in, the aside
    * copy deletes last. Every crash point leaves the cell's rows durable
    * in exactly one location; [[selfHealCellSwaps]] repairs any
    * interruption on the next op's entry.
    *
    * FILESYSTEM CONTRACT — atomic directory rename. The whole commit
    * protocol here (and in [[appendToAdcIndex]]'s file landings and
    * [[repairDriftedIndexCells]]'s centroids two-step) assumes
    * `FileSystem.rename` is an atomic metadata operation that either
    * fully moves the directory or fails — true on HDFS and on POSIX
    * local filesystems (the test environment). It is NOT true on plain
    * object stores: S3-style "rename" is copy-then-delete per object,
    * O(data) and non-atomic, so a crash mid-rename can leave a cell half
    * in both locations — exactly the state the aside protocol exists to
    * prevent. Deploying the index on an object store needs one of:
    * (a) a rename-atomic layer over the store (HDFS-compatible services
    * or a consistent metadata layer); or (b) the MANIFEST-COMMIT
    * alternative this layout is one file away from: the index already
    * self-describes under `meta/`, so adding a `manifest/` generation
    * pointer (one tiny file naming the live file set per cell) turns
    * every swap into write-new-files + write-one-manifest — readers
    * resolve the manifest first, renames disappear from the commit path
    * entirely, and abandoned files are swept by generation age. The
    * manifest write is the only operation that must be atomic, and a
    * single-object PUT is atomic on every major store. (Sketch only —
    * not implemented; SCALE.md tracks this envelope edge.)
    */
  private def swapCellDirsIn(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      newRoot: String,
      cells: Seq[Int],
      op: String,
  ): Unit = {
    val codes = s"$dir/codes"
    val asideRoot = new org.apache.hadoop.fs.Path(s"$dir/codes_compact_aside")
    fs.mkdirs(asideRoot)
    cells.foreach { cell =>
      val oldDir = new org.apache.hadoop.fs.Path(s"$codes/centroid_id=$cell")
      val newDir = new org.apache.hadoop.fs.Path(s"$newRoot/centroid_id=$cell")
      val aside = new org.apache.hadoop.fs.Path(s"$asideRoot/centroid_id=$cell")
      require(fs.rename(oldDir, aside), s"$op: aside rename failed for cell $cell")
      require(fs.rename(newDir, oldDir), s"$op: swap-in rename failed for cell $cell")
      fs.delete(aside, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(newRoot), true)
    fs.delete(asideRoot, true)
  }

  def compactAdcIndexCodes(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long,
      minRetainedBatchId: Option[Long] = None,
  ): DataFrame = {
    require(targetBytes >= 1, s"compactAdcIndexCodes: targetBytes must be positive: $targetBytes")
    import spark.implicits._
    val codes = s"$dir/codes"
    val root = new org.apache.hadoop.fs.Path(codes)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    requireNoManifest(fs, dir, "compactAdcIndexCodes")
    selfHealCellSwaps(fs, dir)
    def census(): Seq[(Int, String, Long)] =
      fs.listStatus(root)
        .toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
        .flatMap { d =>
          val cell = d.getPath.getName.stripPrefix("centroid_id=").toInt
          fs.listStatus(d.getPath)
            .toSeq
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => (cell, f.getPath.getName, f.getLen))
        }
    val before = census()
    require(before.nonEmpty, s"compactAdcIndexCodes: no code files under $codes")
    // The replay-idempotency watermark + binning + victim selection +
    // no-watermark refusal are [[planCodesCompaction]], shared with the
    // manifest-mode compactor: retained landings are excluded from
    // binning and carried into any rewritten cell unchanged.
    val (retained, victims) = planCodesCompaction("compactAdcIndexCodes", before, targetBytes, minRetainedBatchId)
    if (victims.nonEmpty) {
      val victimCells = victims.keys.toSeq.sorted
      // file-NAME join (part names are UUID-unique) — input_file_name()'s
      // URI rendering and the Hadoop listing disagree on scheme slashes
      val tmp = s"$dir/codes_compact_tmp"
      // The explicit-file victim read, name-join, (cell, bin) partition
      // write and row-count gate are [[rewriteCompactionVictims]], shared
      // with the manifest-mode compactor.
      rewriteCompactionVictims(spark, codes, victims, tmp, "compactAdcIndexCodes")
      // Assemble each victim cell's replacement as a FLAT dir (the serving
      // layout has no __bin level): the single file under each bin subdir
      // renames to bin<b>-<name>, names stay UUID-unique.
      val newRoot = s"$dir/codes_compact_new"
      val retainedByCell = retained.groupBy(_._1)
      victimCells.foreach { cell =>
        val newCell = new org.apache.hadoop.fs.Path(s"$newRoot/centroid_id=$cell")
        fs.mkdirs(newCell)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/centroid_id=$cell"))
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bin="))
          .foreach { binDir =>
            val b = binDir.getPath.getName.stripPrefix("__bin=")
            fs.listStatus(binDir.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .foreach { f =>
                val target = new org.apache.hadoop.fs.Path(newCell, s"bin$b-${f.getPath.getName}")
                require(fs.rename(f.getPath, target), s"compactAdcIndexCodes: assemble rename failed for $target")
              }
          }
        // Watermark-retained batch landings in this cell carry over into
        // the replacement dir UNDER THEIR REPLAY NAMES — COPIED, not
        // renamed: the live tree must stay complete until the swap (a
        // crash here drops the whole newRoot on the next entry's
        // self-heal, which must not have stolen a live file first).
        retainedByCell.getOrElse(cell, Nil).foreach { case (_, name, _) =>
          val src = new org.apache.hadoop.fs.Path(s"$codes/centroid_id=$cell/$name")
          val dst = new org.apache.hadoop.fs.Path(newCell, name)
          require(
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, spark.sessionState.newHadoopConf()),
            s"compactAdcIndexCodes: retained-landing copy failed for $src",
          )
        }
      }
      // The crash-safe swap (see the Scaladoc's rename-aside contract):
      // old aside -> new in -> aside deleted; the entry self-heal covers
      // every interruption point.
      swapCellDirsIn(fs, dir, newRoot, victimCells, "compactAdcIndexCodes")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val after = census()
    val bAgg = before.groupBy(_._1).map { case (c, l) => c -> (l.size.toLong, l.map(_._3).sum) }
    val aAgg = after.groupBy(_._1).map { case (c, l) => c -> (l.size.toLong, l.map(_._3).sum) }
    bAgg.keys.toSeq.sorted
      .map { c =>
        val (nb, sb) = bAgg(c)
        val (na, sa) = aAgg.getOrElse(c, (0L, 0L))
        (c, nb, na, sb, sa)
      }
      .toDF("centroid_id", "files_before", "files_after", "bytes_before", "bytes_after")
  }

  // ----------------------------------------------------------------------
  // MANIFEST-COMMIT mode — the object-store alternative the
  // [[swapCellDirsIn]] contract sketches, implemented for the CODES table
  // (the only multi-file, incrementally-rewritten artifact; centroids /
  // codebooks / meta are tiny and swap wholesale). A generation file
  // under `manifest/` names the exact file set of every posting list;
  // readers resolve a generation and read THOSE files, so no commit ever
  // depends on a rename being atomic: writers land new files under fresh
  // names (never colliding, never deleting), and the only atomic step is
  // making one small manifest object visible — a single-object PUT on
  // every major store. De-referenced files are swept later by
  // [[cleanupAdcGenerations]], which gives in-flight snapshot readers a
  // configurable generation grace. CONCURRENT WRITERS are detected, not
  // assumed away: every generation commit names the parent generation it
  // was built from and re-lists the chain after staging — if another
  // committer advanced the chain meanwhile (manifest-mode ingest IS a
  // manifest writer, racing maintenance; or an orchestrator restarting a
  // "dead" driver whose JVM is still finishing), exactly one commit wins
  // and the loser refuses LOUDLY with the refs it must re-read
  // ([[commitAdcGen]]'s expected-parent fence). The same-generation
  // PUT-overwrite race (object stores silently replace on name collision
  // where HDFS rename refuses) is closed by a committer token inside the
  // generation object, verified after the commit move — a loser discovers
  // the overwrite and refuses instead of believing its vanished world was
  // published. Losers re-read the latest refs and retry; nothing is ever
  // silently dropped. Concurrent APPENDS need no fence at all — a landing
  // only adds never-referenced files, which both compaction (manifest
  // census) and cleanup (reference-set math)
  // ignore. The two commit modes must not mix: the rename ops census the
  // live TREE and would double-count a manifest index's de-referenced
  // files, so they refuse loudly when `manifest/` exists, and the
  // manifest ops refuse its absence (except the bootstrap).
  // ----------------------------------------------------------------------

  private def manifestDir(dir: String) = s"$dir/manifest"

  private val GenName = raw"gen-(\d+)\.parquet".r

  private[graft] def listAdcGens(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
  ): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(dir))
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p)
        .toSeq
        .flatMap(_.getPath.getName match {
          case GenName(n) => Some(n.toLong)
          case _ => None
        })
        .sorted
  }

  private def requireNoManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String, op: String): Unit =
    require(
      listAdcGens(fs, dir).isEmpty,
      s"$op: $dir is MANIFEST-committed (manifest/ has generations). The rename-mode ops census " +
        "the live tree and would double-count de-referenced files - use the manifest ops " +
        "(compactAdcIndexCodesManifest, adcTopKFromSnapshot, cleanupAdcGenerations) instead.",
    )

  // One manifest reference: a codes FILE (kind = "codes", cell + file
  // name) or the centroids TABLE (kind = "centroids", name = the live
  // centroids dir relative to the index root — versioned by drift
  // repairs, "centroids" at bootstrap). Codebooks and meta/ are frozen
  // artifacts of the save and need no versioning.
  private[graft] case class AdcRef(kind: String, cell: Int, name: String, bytes: Long)

  // The generation object's parquet schema: the Spark writer's column
  // names, types and UTF8 strings from before the direct MetaIO staging,
  // so pre- and post-change generations are read-compatible. They are not
  // byte-identical: every field here is optional, where the Spark writer
  // marked its non-null fields required.
  private val AdcManifestSchema =
    """message spark_schema {
      |  optional binary kind (UTF8);
      |  optional int32 centroid_id;
      |  optional binary name (UTF8);
      |  optional int64 bytes;
      |}""".stripMargin

  private def codesRefs(refs: Seq[AdcRef]): Seq[(Int, String, Long)] =
    refs.collect { case AdcRef("codes", cell, name, bytes) => (cell, name, bytes) }

  /** The chain's FOLD WATERMARK ([[graft.operators.Dedup.dedupFoldWatermark]]'s
    * twin): max of [[adcFoldedBatches]], kept for messages and specs.
    * COVERAGE never tests against this — see [[adcFoldedBatches]].
    */
  private[graft] def adcFoldWatermark(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
  ): Option[Long] =
    adcFoldedBatches(spark, dir).maxOption

  /** The EXACT set of batch ids this chain's manifest compactions ever
    * folded into bins — one `kind = "fold"` ref PER ID, carried forward by
    * every later generation. The cross-artifact census and gates
    * ([[graft.operators.Consistency]]) test MEMBERSHIP in this set, never
    * `<= max`: a single max watermark treated as dense-range coverage
    * masked any batch that was never landed here but sat below a later
    * folded id — the gap a one-sided crash leaves is exactly the
    * divergence the census exists to keep observable (r20 VERDICT #1).
    * Fold refs are one metadata row per folded batch per generation —
    * the manifest's own cost class. A pre-upgrade layout carrying only
    * the old single max ref under-covers (its below-max folded batches
    * read uncovered and the gates REFUSE), which is the safe direction:
    * re-landing the named batch heals it, per the refusal text.
    */
  private[graft] def adcFoldedBatches(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
  ): Set[Long] = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"adcFoldedBatches: no manifest at $dir - bootstrap with writeAdcManifest")
    readAdcManifestRefs(spark, dir, gens.max)
      .collect { case AdcRef("fold", _, w, _) => w.toLong }
      .toSet
  }

  private def centroidsPathOf(dir: String, refs: Seq[AdcRef]): String =
    s"$dir/${refs.collectFirst { case AdcRef("centroids", _, name, _) => name }.getOrElse("centroids")}"

  // One manifest generation's rows, collected. Driver-side by design — a
  // manifest is metadata-scale (one row per FILE) and the explicit-files
  // read needs the list on the driver anyway. Read DIRECTLY (MetaIO), not
  // through a Spark action: the composed lifecycle ops re-read the head
  // refs on every hop, and each spark.read+collect was ~50-150 ms of
  // planning+scheduling to move a few hundred bytes the driver needs
  // locally anyway.
  private[graft] def readAdcManifestRefs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      gen: Long,
  ): Seq[AdcRef] =
    MetaIO
      .readGroups(spark.sparkContext.hadoopConfiguration, s"${manifestDir(dir)}/gen-$gen.parquet")
      .map(g =>
        AdcRef(MetaIO.str(g, "kind"), MetaIO.int32(g, "centroid_id"), MetaIO.str(g, "name"),
          MetaIO.int64(g, "bytes")))

  // Commit one generation: write the refs as a SINGLE parquet object.
  // The rename below is commit-local bookkeeping, not the commit itself:
  // on an object store the move is a copy whose target object appears
  // atomically (PUT semantics) — the generation becomes visible exactly
  // when the object does, and a crash before that leaves no partial gen.
  //
  // CONCURRENT-COMMITTER GUARD (the module comment's contract), two
  // independent fences because object stores break two different
  // assumptions:
  //  1. EXPECTED-PARENT (the lost-update fence): the caller states which
  //     generation its refs were READ from; after staging the object we
  //     re-list the chain and refuse if the head moved — a committer
  //     that built gen N+1 from gen N-1's refs (maintenance that read
  //     while ingest committed) would otherwise publish a world with the
  //     interleaved batch's refs silently dropped, and cleanup would
  //     later delete that batch's files. The refusal fires BEFORE the
  //     commit move, so the chain is untouched and the loser just
  //     re-reads and retries.
  //  2. COMMITTER TOKEN (the PUT-overwrite fence): `!fs.exists` + rename
  //     only refuses a same-generation collision where rename refuses
  //     existing targets — local FS and HDFS, NOT object stores, where
  //     the second PUT silently replaces the first. Every generation
  //     object carries one `kind = "committer"` row with a fresh UUID;
  //     after the move we read the published object back and require OUR
  //     token — the committer whose object was overwritten sees the
  //     winner's token and refuses loudly instead of walking away
  //     believing its world (possibly a different file set for the same
  //     generation number) is live.
  // private[graft] so the spec can interleave two committers directly.
  private[graft] def commitAdcGen(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      gen: Long,
      refs: Seq[AdcRef],
      expectedParent: Option[Long],
  ): Long = {
    require(refs.exists(_.kind == "codes"), s"commitAdcGen: refusing to commit a codes-EMPTY generation $gen for $dir")
    // Strip inherited committer rows (refs built from a previous
    // generation's rows carry its token) and stamp this commit's own.
    val token = java.util.UUID.randomUUID().toString
    val payload = refs.filterNot(_.kind == "committer") :+ AdcRef("committer", -1, token, 0L)
    // Token-unique scratch: concurrent committers are an ACKNOWLEDGED race
    // (the two fences below exist for it) — a shared staging path would
    // let committer B's overwrite replace committer A's staged object
    // BEFORE either fence runs, publishing one writer's refs under the
    // other's rename. Unique names make staging corruption structurally
    // impossible; a crashed commit's scratch is vacuumed by
    // [[cleanupAdcGenerations]] under its scratch grace.
    val scratch = s"$dir/${scratchName("manifest_tmp", token)}"
    // Stage the generation object DIRECTLY (MetaIO) — the manifest is one
    // tiny driver-resident row set, and the Spark coalesce(1) write was a
    // full job per commit on the ingest critical path. Same parquet
    // format, same scratch-then-rename protocol below.
    val stagedFile = new org.apache.hadoop.fs.Path(scratch, "part-00000.parquet")
    MetaIO.writeRows(
      spark.sparkContext.hadoopConfiguration,
      stagedFile.toString,
      AdcManifestSchema,
      payload.map(r => Seq(r.kind, r.cell, r.name, r.bytes)),
    )
    val parts = fs
      .listStatus(new org.apache.hadoop.fs.Path(scratch))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(parts.length == 1, s"commitAdcGen: expected one manifest part, found ${parts.length}")
    // Both fences + the refusal-path scratch hygiene live in the shared
    // protocol ([[AtomicHead.commit]]); this site supplies the chain
    // listing, its spec'd refusal, and the fence-2 read-back.
    val target = new org.apache.hadoop.fs.Path(s"${manifestDir(dir)}/gen-$gen.parquet")
    AtomicHead.commit(
      fs,
      staged = parts.head.getPath,
      scratchRoot = new org.apache.hadoop.fs.Path(scratch),
      scratchIsDir = true,
      target = target,
      headNow = () => listAdcGens(fs, dir).lastOption,
      expectedParent = expectedParent,
      refuseMoved = headNow =>
        throw new IllegalArgumentException(
          s"commitAdcGen: generation head moved from $expectedParent to $headNow while this commit was " +
            s"built - a concurrent committer published first (ingest racing maintenance, or a restarted " +
            s"driver's twin). Committing gen $gen from stale refs would silently drop the interleaved " +
            "generation's files from the chain. Re-read the latest generation's refs and retry."),
      existsMsg = s"commitAdcGen: generation $gen already exists at $target",
      renameFailedMsg = s"commitAdcGen: commit move failed for $target",
      requireCommitWon = () => requireGenCommitWon(spark, dir, gen, token),
    )
    gen
  }

  // The post-commit read-back of fence 2, separated so the spec can
  // drive the losing side directly (simulating the object-store PUT
  // overwrite a local-FS test cannot produce through rename).
  private[graft] def requireGenCommitWon(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      gen: Long,
      token: String,
  ): Unit = {
    val winners = readAdcManifestRefs(spark, dir, gen).collect { case AdcRef("committer", _, t, _) => t }
    require(
      winners == Seq(token),
      s"commitAdcGen: generation $gen at $dir was committed by ANOTHER writer " +
        s"(its token ${winners.mkString(",")}, ours $token) - on an object store two drivers' PUTs " +
        "for the same generation silently last-write-win, and this driver lost: its file set is NOT " +
        "what readers resolve. Re-read the latest generation's refs and retry as the next generation.",
    )
  }

  /** CONTENT DIFF between two generations of the manifest index — the
    * audit primitive ([[graft.operators.Dedup.dedupChainDiff]]'s twin on
    * this artifact): which vector ids did generation `toGen` add or
    * remove relative to `fromGen`? Returns (op = 'added' | 'removed',
    * vec id as `id`). SET semantics over the residual file sides, with
    * one scoped multiset escape: a re-landed copy of an already-indexed
    * id (a pipeline-contract violation nothing structurally refuses)
    * surfaces as 'added' only on diffs whose residual sides still hold
    * the copy — the per-hop diff over the landing's own commit; a diff
    * spanning a compaction reads both full rewritten sides and collapses
    * copy-count changes, so audit duplicate landings hop-by-hop.
    * ID-LEVEL by design: a manifest compaction rewrites
    * every victim file and a drift repair re-encodes and may MIGRATE
    * vectors between cells, yet neither adds nor removes a vector — both
    * are provably invisible to this diff, which makes it the cheapest
    * "maintenance changed membership by nothing" gate after any chain
    * hop.
    *
    * Scale design: the ref sets are metadata (one row per file); only
    * files referenced by exactly ONE side are read — a batch commit's
    * diff costs the batch, never the corpus (shared files contribute
    * identical rows under the add-only contract) — and the residue
    * resolves with one anti-join per direction.
    */
  def adcChainDiff(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      fromGen: Long,
      toGen: Long,
  ): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(s"$dir/codes").getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"adcChainDiff: no manifest at $dir - bootstrap with writeAdcManifest")
    Seq(fromGen, toGen).foreach(g =>
      require(gens.contains(g), s"adcChainDiff: generation $g not in ${gens.mkString(",")}"))
    def refsOf(g: Long): Set[(Int, String)] =
      codesRefs(readAdcManifestRefs(spark, dir, g)).map(r => (r._1, r._2)).toSet
    val fromRefs = refsOf(fromGen)
    val toRefs = refsOf(toGen)
    // An empty residual side keeps the codes schema via limit(0) over the
    // generation's own files (codes-empty generations refuse to commit).
    def rowsOf(refs: Set[(Int, String)], genAll: Set[(Int, String)]): DataFrame = {
      val src = if (refs.nonEmpty) refs else genAll
      val files = src.toSeq.sorted.map { case (cell, name) => s"$dir/codes/centroid_id=$cell/$name" }
      val df = spark.read.parquet(files: _*).select(col("neighbor_id").as("id"))
      if (refs.nonEmpty) df else df.limit(0)
    }
    val onlyFrom = rowsOf(fromRefs -- toRefs, fromRefs)
    val onlyTo = rowsOf(toRefs -- fromRefs, toRefs)
    onlyTo
      .join(onlyFrom, Seq("id"), "left_anti")
      .select(lit("added").as("op"), col("id"))
      .unionAll(onlyFrom.join(onlyTo, Seq("id"), "left_anti").select(lit("removed").as("op"), col("id")))
  }

  /** BOOTSTRAP the manifest: census the live codes tree into generation
    * 0. Only legal while no generation exists AND the tree has never been
    * rewritten in place — a census over a tree that holds de-referenced
    * files would re-reference them (double rows served). Call it once,
    * right after [[saveAdcIndex]] (plus any landings that should be in
    * the initial snapshot); every later generation comes from an op that
    * KNOWS its delta ([[commitAdcBatchToManifest]],
    * [[compactAdcIndexCodesManifest]]).
    */
  def writeAdcManifest(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val codes = s"$dir/codes"
    val root = new org.apache.hadoop.fs.Path(codes)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(
      listAdcGens(fs, dir).isEmpty,
      s"writeAdcManifest: $dir already has manifest generations - the census bootstrap would " +
        "re-reference de-referenced files. Incremental gens come from commitAdcBatchToManifest / " +
        "compactAdcIndexCodesManifest.",
    )
    val refs = fs
      .listStatus(root)
      .toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
      .flatMap { d =>
        val cell = d.getPath.getName.stripPrefix("centroid_id=").toInt
        fs.listStatus(d.getPath)
          .toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => AdcRef("codes", cell, f.getPath.getName, f.getLen))
      }
    commitAdcGen(spark, fs, dir, 0L, refs :+ AdcRef("centroids", -1, "centroids", 0L), expectedParent = None)
  }

  /** Commit a landed batch ([[appendToAdcIndex]] with `batchId`) into the
    * next generation: previous refs, minus any refs this SAME batch wrote
    * before (a replay re-lands under fresh part names, so stale refs to
    * its prior landing would dangle — the re-commit heals them), plus the
    * batch's files now on disk. `cells` bounds the listing to the cells
    * the landing touched (the production ingest knows them); None lists
    * every cell — fine at test nlist, the O(nlist) caveat applies.
    *
    * The at-least-once window: a crash between the landing and this
    * commit leaves the batch's files on disk but un-referenced — invisible
    * to snapshot readers and untouchable by cleanup (never referenced),
    * and the replay + re-commit converges. A crash between this commit
    * and the CHECKPOINT commit means the replay deletes files the latest
    * gen references: snapshot readers of that gen must retry (or serving
    * is fenced to gens behind the checkpoint offset — the production
    * rule, same fence the compaction watermark enforces).
    */
  def commitAdcBatchToManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batchId: Long,
      cells: Option[Seq[Int]] = None,
  ): Long = {
    val codes = s"$dir/codes"
    val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"commitAdcBatchToManifest: no manifest at $dir - bootstrap with writeAdcManifest")
    val prev = readAdcManifestRefs(spark, dir, gens.max)
    val kept = prev.filterNot(r => r.kind == "codes" && batchIdOfLanding(r.name).contains(batchId))
    val cellDirs = cells match {
      case Some(cs) => cs.distinct.sorted.map(c => new org.apache.hadoop.fs.Path(s"$codes/centroid_id=$c"))
      case None =>
        fs.listStatus(new org.apache.hadoop.fs.Path(codes))
          .toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
          .map(_.getPath)
    }
    val landed = cellDirs.filter(fs.exists).flatMap { d =>
      val cell = d.getName.stripPrefix("centroid_id=").toInt
      fs.listStatus(d)
        .toSeq
        .filter(f => f.isFile && batchIdOfLanding(f.getPath.getName).contains(batchId))
        .map(f => AdcRef("codes", cell, f.getPath.getName, f.getLen))
    }
    require(landed.nonEmpty, s"commitAdcBatchToManifest: batch $batchId left no files under $codes")
    commitAdcGen(spark, fs, dir, gens.max + 1, kept ++ landed, expectedParent = Some(gens.max))
  }

  /** [[compactAdcIndexCodes]] in MANIFEST mode: the census comes from the
    * latest generation's refs (pure metadata — no tree listing), the
    * rewrite lands bin files into the live cell dirs under fresh
    * `m<gen>bin<b>-…` names (new names never collide, nothing is deleted,
    * no rename-aside), and the commit is one manifest object referencing
    * the bins plus the watermark-retained landings. Old victim files stay
    * on disk for in-flight readers of older generations —
    * [[cleanupAdcGenerations]] sweeps them later. Same binning, same
    * `minRetainedBatchId` watermark semantics, same loud row-count gate
    * as the rename-mode op; idempotent at the metadata level (an
    * already-binned generation selects no victims).
    *
    * `coverageGuard` (opt-in, for dual-artifact deployments): the dedup
    * index path whose chain must COVER every batch id this compaction is
    * about to fold —
    * [[graft.operators.Consistency.requireFoldCovered]]'s loud gate,
    * fired before any rewrite. Folding records the largest folded batch
    * id as the chain's fold watermark ([[adcFoldWatermark]]) either way.
    */
  def compactAdcIndexCodesManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long,
      minRetainedBatchId: Option[Long] = None,
      coverageGuard: Option[String] = None,
  ): DataFrame = {
    require(targetBytes >= 1, s"compactAdcIndexCodesManifest: targetBytes must be positive: $targetBytes")
    import spark.implicits._
    val codes = s"$dir/codes"
    val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"compactAdcIndexCodesManifest: no manifest at $dir - bootstrap with writeAdcManifest")
    val allRefs = readAdcManifestRefs(spark, dir, gens.max)
    val otherRefs = allRefs.filter(_.kind != "codes")
    val before = codesRefs(allRefs)
    // Watermark partition + binning + victim selection + no-watermark
    // refusal are [[planCodesCompaction]]; the victim rewrite + row gate
    // are [[rewriteCompactionVictims]] — both shared verbatim with the
    // rename-mode compactor. Only the LANDING differs: bins go into the
    // live cell dirs under fresh names and one manifest object commits.
    val (retained, victims) = planCodesCompaction("compactAdcIndexCodesManifest", before, targetBytes, minRetainedBatchId)
    // The batch ids about to LOSE their names: the cross-artifact gate
    // (opt-in) refuses before any rewrite if the dedup chain never
    // covered one; the fold watermark below records them either way.
    val foldedIds = victims.values.flatten.toSeq
      .flatMap { case (_, name, _, _) => batchIdOfLanding(name) }
    coverageGuard.foreach(dedupPath =>
      graft.operators.Consistency.requireFoldCovered(spark, "compactAdcIndexCodesManifest", foldedIds,
        otherIsDedup = true, otherPath = dedupPath))
    val newGen = gens.max + 1
    var committedRefs = before
    if (victims.nonEmpty) {
      val victimCells = victims.keys.toSeq.sorted
      // UUID-unique scratch: manifest maintenance can race an ingest
      // committer (the commit fences' acknowledged world), so no two ops
      // may share a staging path. Crashed scratch is vacuumed by
      // [[cleanupAdcGenerations]] under its scratch grace.
      val tmp = s"$dir/${scratchName("codes_mcompact_tmp", java.util.UUID.randomUUID().toString)}"
      rewriteCompactionVictims(spark, codes, victims, tmp, "compactAdcIndexCodesManifest")
      // Land the bins into the LIVE cell dirs under fresh names. These
      // moves need no atomicity: the files are invisible until the
      // manifest object commits, and a crash here leaves never-referenced
      // files that cleanup ignores and a re-run supersedes.
      val newBinRefs = victimCells.flatMap { cell =>
        val cellDir = new org.apache.hadoop.fs.Path(s"$codes/centroid_id=$cell")
        fs.mkdirs(cellDir)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/centroid_id=$cell"))
          .toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bin="))
          .flatMap { binDir =>
            val b = binDir.getPath.getName.stripPrefix("__bin=")
            fs.listStatus(binDir.getPath)
              .toSeq
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map { f =>
                val target = new org.apache.hadoop.fs.Path(cellDir, s"m${newGen}bin$b-${f.getPath.getName}")
                require(fs.rename(f.getPath, target), s"compactAdcIndexCodesManifest: bin move failed for $target")
                (cell, target.getName, fs.getFileStatus(target).getLen)
              }
          }
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      // The new generation: non-victim cells carry their refs unchanged;
      // a victim cell's refs become its watermark-retained landings plus
      // the fresh bins.
      val victimSet = victimCells.toSet
      committedRefs = before.filter { case (cell, _, _) => !victimSet(cell) } ++
        retained.filter { case (cell, _, _) => victimSet(cell) } ++
        newBinRefs
    }
    // A no-op pass (nothing to bin) commits NOTHING — an idempotent
    // nightly compactor must not grow the generation chain.
    if (victims.nonEmpty) {
      // The folded-id SET: prior fold refs carried forward, this commit's
      // folded ids merged in — one ref PER batch id, never a single max
      // (see [[adcFoldedBatches]]: `<= max` coverage masked one-sided
      // batches sitting in a gap below a later fold). The committer token
      // is re-stamped by commitAdcGen; every other non-codes ref passes
      // through.
      val foldSet = (otherRefs.collect { case AdcRef("fold", _, w, _) => w.toLong } ++ foldedIds).distinct.sorted
      val carried = otherRefs.filterNot(_.kind == "fold") ++
        foldSet.map(w => AdcRef("fold", -1, w.toString, 0L))
      commitAdcGen(spark, fs, dir, newGen,
        committedRefs.map { case (cell, name, bytes) => AdcRef("codes", cell, name, bytes) } ++ carried,
        expectedParent = Some(gens.max))
    }
    // The census (from refs, not the tree): per-cell files/bytes before vs
    // after — the same observability row the rename-mode op returns.
    val bAgg = before.groupBy(_._1).map { case (c, l) => c -> (l.size.toLong, l.map(_._3).sum) }
    val aAgg = committedRefs.groupBy(_._1).map { case (c, l) => c -> (l.size.toLong, l.map(_._3).sum) }
    bAgg.keys.toSeq.sorted
      .map { c =>
        val (nb, sb) = bAgg(c)
        val (na, sa) = aAgg.getOrElse(c, (0L, 0L))
        (c, nb, na, sb, sa)
      }
      .toDF("centroid_id", "files_before", "files_after", "bytes_before", "bytes_after")
  }

  /** Sweep DE-REFERENCED files: everything some generation older than the
    * retained window referenced that no retained generation references.
    * Files referenced by NO generation are spared when they may have an
    * owner — in-flight landings (`batch<id>-`, no generation to judge
    * by) and maintenance files whose embedded generation is AHEAD of the
    * chain head (an op building its commit right now). Maintenance files
    * whose generation the head has already passed, yet no generation
    * references, are CRASHED-OP ORPHANS (bins/repair files landed, the
    * generation object never committed, and the chain moved on — a
    * re-run lands fresh names and never reclaims them) and are swept
    * here, the vacuum step every manifest-pointer lake design pairs with
    * add-only writers. Old generation objects beyond the window are
    * removed with their files. `keepGens` is the snapshot-reader grace: a
    * reader that resolved a generation keeps a consistent file set as
    * long as its generation stays inside the window. Returns the
    * deleted-file count.
    */
  def cleanupAdcGenerations(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      keepGens: Int = 2,
      scratchGraceMs: Long = 15L * 60L * 1000L,
  ): Long = {
    require(keepGens >= 1, s"cleanupAdcGenerations: keepGens must be >= 1: $keepGens")
    require(scratchGraceMs >= 0, s"cleanupAdcGenerations: scratchGraceMs must be >= 0: $scratchGraceMs")
    val codes = s"$dir/codes"
    val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"cleanupAdcGenerations: no manifest at $dir")
    // Crashed-op scratch dirs (a landing's codes_append_tmp_b<id>, a
    // commit's manifest_tmp_<token>, a manifest compactor's / repair's
    // codes_m*_tmp_<uuid> — content that never reached the live tree) are
    // swept here, the mirror of what selfHealCellSwaps does at every
    // rename-mode maintenance entry. AGE-GATED: manifest-mode ingest
    // commits legitimately race maintenance (the commit fences'
    // acknowledged world), so a scratch younger than `scratchGraceMs` may
    // be an op staging RIGHT NOW and is spared; a crashed op's scratch
    // ages past any real staging window and is reclaimed on the next
    // cleanup. Age comes from the WALL-CLOCK STAMP the scratch name
    // embeds ([[scratchName]]) — filesystem mtime is the fallback for
    // stamp-less legacy names only, because object stores report epoch-0
    // mtimes for directory entries, which would void the grace entirely.
    val scratchPrefixes =
      Seq("codes_append_tmp", "manifest_tmp", "codes_mcompact_tmp", "codes_mrepair_tmp")
    val staleBefore = System.currentTimeMillis() - scratchGraceMs
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(dirPath))
      fs.listStatus(dirPath)
        .filter(s =>
          s.isDirectory &&
            scratchPrefixes.exists(s.getPath.getName.startsWith) &&
            scratchIsStale(s, staleBefore))
        .foreach(s => fs.delete(s.getPath, true))
    val (old, kept) = gens.splitAt(math.max(0, gens.size - keepGens))
    val keptAll = kept.flatMap(g => readAdcManifestRefs(spark, dir, g))
    val oldAll = old.flatMap(g => readAdcManifestRefs(spark, dir, g))
    val keptRefs: Set[(Int, String)] = codesRefs(keptAll).map(r => (r._1, r._2)).toSet
    val deadRefs: Set[(Int, String)] = codesRefs(oldAll).map(r => (r._1, r._2)).toSet -- keptRefs
    var deleted = 0L
    deadRefs.toSeq.sorted.foreach { case (cell, name) =>
      val p = new org.apache.hadoop.fs.Path(s"$codes/centroid_id=$cell/$name")
      if (fs.exists(p) && fs.delete(p, false)) deleted += 1
    }
    // De-referenced centroids VERSIONS (repair-written dirs) die with
    // their generations; the bootstrap "centroids" dir is never deleted
    // even when de-referenced — it is the save's artifact, not ours.
    val keptCents = keptAll.collect { case AdcRef("centroids", _, name, _) => name }.toSet
    val deadCents = oldAll.collect { case AdcRef("centroids", _, name, _) => name }.toSet -- keptCents - "centroids"
    deadCents.toSeq.sorted.foreach { name =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (fs.exists(p) && fs.delete(p, true)) deleted += 1
    }
    // ORPHAN SWEEP — never-referenced files a CRASHED maintenance op left
    // in live cell dirs (bins/repair files landed, generation object
    // never committed; or a committer that LOST a commit race and did not
    // retry). "A re-run supersedes" heals the CONTENT but lands fresh
    // UUID names, so without this sweep the orphans are permanently
    // unreclaimable — an unbounded leak on exactly the object-store path
    // this mode exists for. The discriminator is the embedded generation:
    // a maintenance file whose gen is at or below the CURRENT head yet
    // referenced by NO generation on disk lost its commit (the head
    // passed it), while gen > head may be an op in flight right now —
    // spared, same rule the never-referenced contract states for
    // landings. Plain `batch<id>-` landings carry no gen and are never
    // candidates.
    val maxGen = gens.max
    val orphanGen = raw"(?:m(\d+)bin|r(\d+)-).*".r
    val allRefNames: Set[(Int, String)] = keptRefs ++ codesRefs(oldAll).map(r => (r._1, r._2))
    fs.listStatus(new org.apache.hadoop.fs.Path(codes))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
      .foreach { d =>
        val cell = d.getPath.getName.stripPrefix("centroid_id=").toInt
        fs.listStatus(d.getPath).filter(_.isFile).foreach { f =>
          val name = f.getPath.getName
          val g = name match {
            case orphanGen(mg, rg) => Option(mg).orElse(Option(rg)).map(_.toLong)
            case _ => None
          }
          if (g.exists(_ <= maxGen) && !allRefNames((cell, name)) && fs.delete(f.getPath, false))
            deleted += 1
        }
      }
    // Same sweep for a crashed repair's never-referenced centroids
    // version (its deterministic name only self-supersedes when NO other
    // commit interleaved before the re-run).
    val orphanCents = raw"centroids_g(\d+)".r
    val refCents = (keptAll ++ oldAll).collect { case AdcRef("centroids", _, n, _) => n }.toSet
    fs.listStatus(dirPath)
      .filter(_.isDirectory)
      .foreach { d =>
        d.getPath.getName match {
          case orphanCents(g) if g.toLong <= maxGen && !refCents(d.getPath.getName) =>
            if (fs.delete(d.getPath, true)) deleted += 1
          case _ => ()
        }
      }
    old.foreach(g => fs.delete(new org.apache.hadoop.fs.Path(s"${manifestDir(dir)}/gen-$g.parquet"), false))
    deleted
  }

  /** [[repairDriftedIndexCells]] in MANIFEST mode — and the version of
    * the repair with an ATOMIC commit: the rename-mode op documents a
    * window between its codes swap and its centroids two-step where a
    * reader sees re-encoded codes probed against the old centroids;
    * here the re-encoded cell files land under fresh names (invisible),
    * the repaired centroids table is written as a NEW versioned dir
    * `centroids_g<gen>` (invisible), and ONE generation object commits
    * both together — a reader resolves either the old world or the new,
    * never a mix. Old generations keep serving the PRE-repair index
    * until [[cleanupAdcGenerations]] retires them (snapshot isolation
    * through a repair).
    *
    * Same semantics as the rename op, pinned by the same oracle shape:
    * membership of record = the generation's referenced posting-list
    * files (so repairs compose); member-mean re-center; frozen-codebook
    * re-encode; the `minRetainedBatchId` replay fence (a repair cannot
    * retain a landing — a partial re-encode would mix centroid bases).
    */
  def repairDriftedIndexCellsManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      flaggedCells: Seq[Int],
      minRetainedBatchId: Option[Long] = None,
  ): DataFrame = {
    import spark.implicits._
    val variant = loadVariant(spark, dir)
    require(
      variant == "residual",
      "repairDriftedIndexCellsManifest: per-cell repair is a RESIDUAL-layout lever - see " +
        "repairDriftedIndexCells (plain codes need a rebuild, not a repair).",
    )
    if (flaggedCells.isEmpty) {
      return Seq.empty[(Int, Long, Long)].toDF("centroid_id", "n_members", "centroid_shift_q")
    }
    val codes = s"$dir/codes"
    val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"repairDriftedIndexCellsManifest: no manifest at $dir - bootstrap with writeAdcManifest")
    val refs = readAdcManifestRefs(spark, dir, gens.max)
    val flaggedSet = flaggedCells.distinct.sorted
    val flaggedRefs = codesRefs(refs).filter { case (cell, _, _) => flaggedSet.contains(cell) }
    require(flaggedRefs.nonEmpty, s"repairDriftedIndexCellsManifest: no referenced files in cells $flaggedSet")
    // The replay fence — over the whole TREE (not just the flagged refs,
    // and not the refs at all): a replay after this repair re-assigns
    // against the moved centroids, so ANY unfenced landing's rows can
    // migrate cells — a later commitAdcBatchToManifest(cells = None)
    // would then find and re-reference the stale originals next to the
    // re-landed copies. On-disk batch files OUTSIDE the current refs are
    // exactly the in-flight landings, so the fence must list the tree.
    val unfenced = unfencedLandingsInTree(fs, codes, minRetainedBatchId)
    require(
      unfenced.isEmpty,
      s"repairDriftedIndexCellsManifest: the index holds batch landings that may still replay " +
        s"(cell, batchId): ${unfenced.mkString(", ")} - pass minRetainedBatchId " +
        "(the ingest checkpoint's committed offset).",
    )
    val centroids = Lineage.truncate(spark.read.parquet(centroidsPathOf(dir, refs)))
    val cbs = loadCodebooks(spark, dir, m)
    val subDim = cbs.head.head._2.length
    // Membership of record = the GENERATION's referenced files — never a
    // tree listing (de-referenced files would double members), never a
    // re-assignment (repairs must compose).
    val memberFiles = flaggedRefs.map { case (cell, name, _) => s"$codes/centroid_id=$cell/$name" }
    val stored = Lineage.truncate(
      spark.read
        .option("basePath", codes)
        .parquet(memberFiles: _*)
        .select(col("neighbor_id").as(idCol), col("centroid_id"))
    )
    val newGen = gens.max + 1
    // UUID-unique for the same reason as the manifest compactor's scratch.
    val scratch = s"$dir/${scratchName("codes_mrepair_tmp", java.util.UUID.randomUUID().toString)}"
    // Member join, completeness gate, per-cell mean, frozen-codebook
    // re-encode and the row-count gate are [[repairEncodeMembers]],
    // shared verbatim with the rename-mode repair — only the COMMIT
    // differs below.
    val (members, newCents, _) = repairEncodeMembers(
      spark, stored, corpus, idCol, vecCol, cbs, m, subDim, scratch, "repairDriftedIndexCellsManifest")
    // Land the re-encoded cells under fresh names (invisible until the
    // generation commits).
    val newCodeRefs = fs
      .listStatus(new org.apache.hadoop.fs.Path(scratch))
      .toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
      .flatMap { cellDir =>
        val cell = cellDir.getPath.getName.stripPrefix("centroid_id=").toInt
        val live = new org.apache.hadoop.fs.Path(s"$codes/centroid_id=$cell")
        fs.mkdirs(live)
        fs.listStatus(cellDir.getPath)
          .toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val target = new org.apache.hadoop.fs.Path(live, s"r$newGen-${f.getPath.getName}")
            require(fs.rename(f.getPath, target), s"repairDriftedIndexCellsManifest: land failed for $target")
            AdcRef("codes", cell, target.getName, fs.getFileStatus(target).getLen)
          }
      }
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    // The repaired centroids: a NEW versioned table (old versions keep
    // serving old generations until cleanup).
    val repaired = Lineage.truncate(
      centroids
        .join(broadcast(newCents.withColumnRenamed("centroid", "__nc")), Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__nc"), col("centroid")).as("centroid"))
    )
    val centsName = s"centroids_g$newGen"
    repaired.coalesce(1).write.mode("overwrite").parquet(s"$dir/$centsName")
    // ONE commit for codes + centroids: the atomic step the rename-mode
    // repair cannot have.
    val committed = refs.filterNot(r =>
      (r.kind == "codes" && flaggedSet.contains(r.cell)) || r.kind == "centroids"
    ) ++ newCodeRefs :+ AdcRef("centroids", -1, centsName, 0L)
    commitAdcGen(spark, fs, dir, newGen, committed, expectedParent = Some(gens.max))
    repairCensus(members, newCents, centroids)
  }

  /** What one standing-maintenance tick did — [[maintainAdcIndexManifest]]'s
    * report, for the caller's log line and the in-query gates.
    */
  final case class AdcMaintenanceReport(
      maxCellFilesBefore: Long,
      compacted: Boolean,
      repairedCells: Seq[Int],
      sweptFiles: Long,
  )

  /** The ANN chain's STANDING-MAINTENANCE rule — the ADC twin of
    * [[graft.operators.Dedup.refreshDedupServe]]: turn the chain's own
    * metadata into this cadence tick's maintenance decision, as the one
    * call a nightly pipeline makes after its ingest commits.
    *
    *  - COMPACT when any cell's REFERENCED file count reaches
    *    `maxFilesPerCell`. Per-cell file count is the serving read's
    *    degradation metric (every probed cell pays one parquet footer
    *    per file), and it reads from the head generation's refs alone —
    *    metadata, no tree listing. Below the bound the compactor is not
    *    even invoked, so an idle tick never grows the chain (the
    *    compactor's own nothing-to-bin pass also commits nothing — the
    *    bound is an ADMISSION rule, not a correctness one).
    *  - REPAIR the caller-flagged drifted cells
    *    ([[repairDriftedIndexCellsManifest]]). The flag set comes from
    *    the drift gate ([[oodDriftGate]]) — an era-over-era ANALYSIS the
    *    pipeline runs on its own corpus slices; the maintenance tick
    *    actuates a decision, it does not make one.
    *  - SWEEP last ([[cleanupAdcGenerations]]), after every commit this
    *    tick makes, so the reference-set cleanup sees the final chain.
    *    The sweep's retention is `keepGens` PLUS the generations this
    *    tick itself committed: a tick that compacts AND repairs adds two
    *    generations, and a plain `keepGens` would let the tick consume
    *    the whole reader grace with its own commits — retiring the
    *    generation that was head at tick ENTRY while a concurrent
    *    snapshot reader is still scanning it. Under the adjusted
    *    retention the pre-tick head always survives the tick; the
    *    superseded world is retired by the NEXT tick, after the grace.
    *
    * Every lever keeps its own fences (watermark refusals, the two
    * commit fences, the snapshot-reader grace) — this operator adds the
    * BOUNDS and the ordering, not new commit machinery. A DUAL-ARTIFACT
    * deployment passes `coverageGuard` (the dedup index path) so the
    * compactor refuses to fold any batch the other chain never covered
    * ([[graft.operators.Consistency.requireFoldCovered]]) — the
    * cross-artifact census's window discipline enforced, not documented.
    * Every hop
    * is content-invisible except the repair, whose effect is exactly
    * [[repairDriftedIndexCellsManifest]]'s (q289 shares q277's oracle
    * verbatim). Returns what actually RAN — `compacted` is true only if
    * the compactor COMMITTED a generation (its nothing-to-bin pass
    * commits none even when the census admitted it), and
    * `repairedCells` is the repair census's own cell list, not an echo
    * of the caller's flag set.
    */
  def maintainAdcIndexManifest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      minRetainedBatchId: Option[Long],
      maxFilesPerCell: Int = 8,
      targetBytes: Long = 128L << 20,
      flaggedCells: Seq[Int] = Nil,
      keepGens: Int = 2,
      coverageGuard: Option[String] = None,
  ): AdcMaintenanceReport = {
    require(maxFilesPerCell >= 1, s"maintainAdcIndexManifest: maxFilesPerCell must be >= 1: $maxFilesPerCell")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"maintainAdcIndexManifest: no manifest at $dir - bootstrap with writeAdcManifest")
    val headAtEntry = gens.max
    val census = codesRefs(readAdcManifestRefs(spark, dir, headAtEntry))
    val maxCellFiles = census.groupBy(_._1).map(_._2.size.toLong).maxOption.getOrElse(0L)
    var compacted = false
    if (maxCellFiles >= maxFilesPerCell) {
      compactAdcIndexCodesManifest(spark, dir, targetBytes, minRetainedBatchId, coverageGuard): Unit
      // Outcome, not admission: the compactor's nothing-to-bin pass
      // commits no generation even when the census admitted it.
      compacted = listAdcGens(fs, dir).max > headAtEntry
    }
    val repairedCells =
      if (flaggedCells.isEmpty) Seq.empty[Int]
      else
        repairDriftedIndexCellsManifest(spark, dir, corpus, idCol, vecCol, m, flaggedCells, minRetainedBatchId)
          .select(col("centroid_id"))
          .collect()
          .map(_.getInt(0))
          .toSeq
          .sorted
    // Retention is widened by this tick's OWN commits so a
    // compact-and-repair tick cannot spend the reader grace on itself:
    // the pre-tick head always survives the tick it was superseded in.
    val commitsThisTick = (listAdcGens(fs, dir).max - headAtEntry).toInt
    val swept = cleanupAdcGenerations(spark, dir, keepGens + commitsThisTick)
    AdcMaintenanceReport(maxCellFiles, compacted, repairedCells, swept)
  }

  /** Serve from a MANIFEST snapshot: resolve a generation (latest by
    * default, or a pinned `gen`), read exactly its file set (explicit
    * paths under `basePath` — the partition column and the dynamically
    * pruned probe join survive, PlanSpec pins that), and run the
    * identical serving pipeline. Hash-identical to [[adcTopKFromIndex]]
    * over the same content; immune to concurrent commits — a compaction
    * that lands while this reads changes which files the NEXT resolution
    * sees, never this one's (its files outlive it by the cleanup grace).
    */
  def adcTopKFromSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
      gen: Option[Long] = None,
  ): DataFrame = {
    val codes = s"$dir/codes"
    val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listAdcGens(fs, dir)
    require(gens.nonEmpty, s"adcTopKFromSnapshot: no manifest at $dir - bootstrap with writeAdcManifest")
    val g = gen.getOrElse(gens.max)
    require(gens.contains(g), s"adcTopKFromSnapshot: generation $g not in ${gens.mkString(",")}")
    val refs = readAdcManifestRefs(spark, dir, g)
    val files = codesRefs(refs).map { case (cell, name, _) => s"$codes/centroid_id=$cell/$name" }
    val encoded = spark.read
      .option("basePath", codes)
      .parquet(files: _*)
      .select(col("neighbor_id"), col("centroid_id"), col("codes"))
    adcTopKFromIndexOn(spark, dir, encoded, centroidsPathOf(dir, refs), corpus, queries, idCol, vecCol,
      m, nprobe, candK, k)
  }

  /** Serve [[adcTopK]] from a PERSISTED index ([[saveAdcIndex]] layout):
    * read back the coarse codebook, the PQ codebooks (tiny — collected to
    * the driver like every codebook literal), and the partitioned codes
    * table, then run the identical [[adcSearch]] pipeline. Results are
    * hash-identical to the in-memory path by construction (same integer
    * ADC math, same tie rules; floats round-trip parquet exactly) — q258
    * pins that against q248's oracle.
    */
  def adcTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
  ): DataFrame = {
    // A manifest index's live tree holds de-referenced files between a
    // manifest compaction/repair and its cleanup — a whole-tree read
    // would serve those rows TWICE (and probe against stale centroids
    // after a manifest repair). Same refusal rule as every rename-mode
    // op: resolve manifest indexes through [[adcTopKFromSnapshot]].
    val fsg = new org.apache.hadoop.fs.Path(s"$dir/codes").getFileSystem(spark.sessionState.newHadoopConf())
    requireNoManifest(fsg, dir, "adcTopKFromIndex")
    val encoded = spark.read
      .parquet(s"$dir/codes")
      .select(col("neighbor_id"), col("centroid_id"), col("codes"))
    adcTopKFromIndexOn(spark, dir, encoded, s"$dir/centroids", corpus, queries, idCol, vecCol,
      m, nprobe, candK, k)
  }

  // The shared serving body: everything after "which files ARE the codes
  // table and which dir IS the centroids" — the live-tree path
  // ([[adcTopKFromIndex]]) and the manifest-snapshot path
  // ([[adcTopKFromSnapshot]], generation-versioned centroids) differ only
  // in those two resolutions.
  private def adcTopKFromIndexOn(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      encoded: DataFrame,
      centroidsPath: String,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
  ): DataFrame = {
    require(candK >= k, s"adcTopKFromIndex: candK ($candK) must be >= k ($k)")
    val centroids = spark.read.parquet(centroidsPath)
    val cbs = loadCodebooks(spark, dir, m)
    val subDim = cbs.head.head._2.length
    val qtables = adcTables(queries, idCol, vecCol, cbs, m, subDim)
    // Same dispatch as the append: serving math follows the layout. Both
    // branches keep the dynamic-partition-pruned codes scan (the probe
    // join is on the partition column either way).
    loadVariant(spark, dir) match {
      case "residual" =>
        val probes = residualProbes(queries, idCol, vecCol, centroids, nprobe)
        adcCutAndRerank(residualScored(encoded, probes, qtables, m), corpus, queries, idCol, vecCol, candK, k)
      case _ =>
        val probes = adcProbes(queries, idCol, vecCol, centroids, nprobe)
        adcSearch(encoded, probes, qtables, corpus, queries, idCol, vecCol, m, candK, k)
    }
  }

  /** The ADC operating curve — the table that turns [[adcTopK]]'s demo
    * constants into a TUNABLE: for each arm (pqNlist, nprobe, candK),
    * recall@k against exact brute force and the candidate volume the arm
    * paid for it. One encoded corpus per DISTINCT code size (the encode is
    * the expensive pass — arms share it); within a code size, one scored
    * candidate table per distinct nprobe (checkpointed — the candK arms
    * re-cut it); the exact side is computed once for every arm.
    *
    * Output, one row per arm:
    * (pq_nlist, nprobe, cand_k, n_cand, n_hit, recall_milli, variant) where
    * `n_cand` = ADC-scored candidate rows (the serving cost driver),
    * `n_hit` = exact-top-k hits summed over queries, and `recall_milli` =
    * n_hit·1000 div (n_queries·k) — exact integers on both engines.
    *
    * `residualArms` adds [[adcTopKResidual]] arms (variant = "residual")
    * to the same table: they share the ONE exact brute-force side, the
    * candidate count, and the shared-rerank cut machinery with the plain
    * arms — only the encode (residual codes, L2 codebooks) and the scoring
    * seed (the per-probe `IP(q, c)` scalar) differ, which is exactly the
    * claim the curve exists to price ("the residual encode buys recall at
    * IDENTICAL candidate volume").
    *
    * Scale: the sweep exists to be run on a SAMPLE of queries before an
    * index serves (the [[adcRecallReport]]/q185 rule, widened to a grid);
    * every per-arm stage is the serving plan itself, so the knee it finds
    * is the knee production would see.
    */
  def adcOperatingCurve(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      subDim: Int,
      pqIters: Int,
      arms: Seq[(Int, Int, Int)],
      k: Int,
      residualArms: Seq[(Int, Int, Int)] = Nil,
  ): DataFrame = {
    require(arms.nonEmpty || residualArms.nonEmpty, "adcOperatingCurve: at least one arm (plain or residual)")
    require((arms ++ residualArms).forall(_._3 >= k), s"adcOperatingCurve: every candK must be >= k ($k)")
    val nQueries = queries.count()
    require(nQueries > 0, "adcOperatingCurve: empty query sample")
    // ONE exact brute-force side for every arm of every variant — the
    // expensive truth is priced once per sweep, never per arm.
    val exact = Lineage.truncate(
      Similarity
        .bruteForceTopK(corpus, queries, idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id"))
    )
    // The per-nprobe machinery is variant-blind once candidates are ADC
    // scored: checkpoint the scored table, count candidates once, rerank
    // vectors ONCE at the widest candK (a candidate's rerank sim does not
    // depend on candK), and let the candK arms re-cut by arank.
    def rowsFor(variant: String, pqNlist: Int, nprobe: Int, scoredRaw: DataFrame, probeArms: Seq[(Int, Int, Int)]) = {
      val scored = Lineage.truncate(scoredRaw)
      val nCand = scored.agg(count(lit(1)).as("n_cand"))
      val maxC = probeArms.map(_._3).max
      val wadc = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id"))
      val reranked = Lineage.truncate(
        corpus
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
          .join(
            broadcast(
              scored.withColumn("arank", row_number().over(wadc)).filter(col("arank") <= maxC)
            ),
            Seq("neighbor_id"),
          )
          .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), col("arank"), cos(col("__qv"), col("__nv")).as("sim"))
      )
      probeArms.sortBy(_._3).map { case (_, _, candK) =>
        val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
        val topk = reranked
          .filter(col("arank") <= candK)
          .withColumn("rank", row_number().over(wk))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"))
        val nHit = topk.join(exact, Seq("query_id", "neighbor_id")).agg(count(lit(1)).as("n_hit"))
        nCand
          .crossJoin(nHit)
          .select(
            lit(pqNlist).cast("int").as("pq_nlist"),
            lit(nprobe).cast("int").as("nprobe"),
            lit(candK).cast("int").as("cand_k"),
            col("n_cand"),
            col("n_hit"),
            expr(s"n_hit * 1000 div (${nQueries}L * ${k}L)").as("recall_milli"),
            lit(variant).as("variant"),
          )
      }
    }
    val plainRows: Seq[DataFrame] = arms.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (pqNlist, sizeArms) =>
      val cbs = pqTrainAll(corpus, idCol, vecCol, m, subDim, pqNlist, pqIters)
      val encoded = Lineage.truncate(adcEncode(corpus, idCol, vecCol, centroids, cbs, m, subDim))
      val qtables = adcTables(queries, idCol, vecCol, cbs, m, subDim)
      sizeArms.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (nprobe, probeArms) =>
        val probes = adcProbes(queries, idCol, vecCol, centroids, nprobe)
        rowsFor("plain", pqNlist, nprobe, adcScored(encoded, probes, qtables, m), probeArms)
      }
    }
    // Residual arms share the exact side and the whole per-nprobe cut/
    // rerank machinery; what differs is the encode (residual codes, L2
    // codebooks) and the scoring seed (the per-probe IP(q, c) scalar).
    // The residual table itself is code-size-independent — computed once.
    val residualRows: Seq[DataFrame] =
      if (residualArms.isEmpty) Nil
      else {
        val rsd = Lineage.truncate(residualTable(corpus, idCol, vecCol, centroids))
        residualArms.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (pqNlist, sizeArms) =>
          val cbs = residualCodebooks(rsd, idCol, m, subDim, pqNlist, pqIters)
          val encoded = Lineage.truncate(residualEncodeFromRsd(rsd, idCol, cbs, m, subDim))
          val qtables = adcTables(queries, idCol, vecCol, cbs, m, subDim)
          sizeArms.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (nprobe, probeArms) =>
            val probes = residualProbes(queries, idCol, vecCol, centroids, nprobe)
            rowsFor("residual", pqNlist, nprobe, residualScored(encoded, probes, qtables, m), probeArms)
          }
        }
      }
    (plainRows ++ residualRows).reduce(_ unionAll _)
  }

  /** IVF-PQ ADC search on RESIDUALS — the full FAISS-IVFPQ shape
    * (Jégou et al. 2011 §IV): PQ quantizes `r = v − centroid(cell)`
    * instead of `v` itself. Residuals concentrate around the origin, so
    * the same `m × log2(nlist)` bits describe a much smaller ball —
    * the code budget buys resolution where the cell's vectors actually
    * live (q261 grades the gain against [[adcTopK]] at identical
    * constants).
    *
    * Scoring uses the inner-product decomposition
    * `IP(q, c + r̂) = IP(q, c) + IP(q, r̂)`: the candidate's reconstructed
    * similarity splits into a per-PROBE scalar (the query against the
    * cell centroid — one quantized long per probe row, constant across
    * that cell's candidates) plus per-QUERY table lookups (the query's
    * raw subvectors against the RESIDUAL codebooks — so the r13
    * "broadcast tables once per query" layout still applies). Getting
    * this decomposition right matters: scoring `IP(q−c, v−c)` instead —
    * the superficially symmetric choice — is NOT monotone with
    * `IP(q, v)` (it differs by an `IP(c, v)` term that varies per
    * candidate) and measured recall collapses to zero.
    *
    * Plan differences vs [[adcTopK]], both semantic, not accidental:
    *
    *  - **corpus**: cell assignment and residual happen in ONE projection
    *    (the cell is known when the residual is computed — no re-assign);
    *    PQ codebooks train on the residual table ([[pqTrainAll]], same
    *    iters+1 scan bound); codes come from residual slices. Vectors and
    *    residuals are both dropped at the encode boundary.
    *  - **queries**: probes carry the quantized `IP(q, c)` scalar; the
    *    tables stay one row per query.
    *
    * Residual arithmetic is float-exact cross-engine: `v − c` rounds to
    * binary32 identically on the JVM and in the mirror (which casts the
    * difference to FLOAT before the double-precision dot).
    */
  def adcTopKResidual(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      subDim: Int,
      pqNlist: Int,
      pqIters: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
  ): DataFrame = {
    require(m >= 1 && subDim >= 1 && pqNlist >= 1 && pqIters >= 0, "adcTopKResidual: all sizes must be positive")
    require(candK >= k, s"adcTopKResidual: candK ($candK) must be >= k ($k)")
    val rsd = residualTable(corpus, idCol, vecCol, centroids)
    val cbs = residualCodebooks(rsd, idCol, m, subDim, pqNlist, pqIters)
    val encoded = residualEncodeFromRsd(rsd, idCol, cbs, m, subDim)
    val probes = residualProbes(queries, idCol, vecCol, centroids, nprobe)
    val qtables = adcTables(queries, idCol, vecCol, cbs, m, subDim)
    adcCutAndRerank(residualScored(encoded, probes, qtables, m), corpus, queries, idCol, vecCol, candK, k)
  }

  /** The residual table `r = v − centroid(cell)` with its cell id — the
    * corpus-side entry of every residual pipeline ([[adcTopKResidual]],
    * the curve's residual arms, the persisted residual index). Cell
    * assignment and the residual happen in ONE projection (the cell is
    * known when the residual is computed — no re-assign); output:
    * (idCol, centroid_id, __rv).
    */
  private[graft] def residualTable(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
  ): DataFrame = {
    val cents = Lineage
      .truncate(centroids)
      .orderBy(col("centroid_id"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    require(
      cents.zipWithIndex.forall { case ((id, _), i) => id == i },
      "residualTable: centroid ids must be contiguous 0..n-1 (the residual literal indexes by id)",
    )
    val cvecs = typedLit(cents.map(_._2).toIndexedSeq)
    def residual(vec: Column, cellId: Column): Column =
      zip_with(vec, element_at(cvecs, cellId + 1), (a, b) => a - b)
    assign(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"), residual(col(vecCol), col("centroid_id")).as("__rv"))
  }

  /** Residual PQ codebooks — an L2 quantizer (Jégou et al. §IV:
    * reconstruction error, not direction, is what ADC sums), with
    * zero-slice seeds skipped: every vector that IS a coarse centroid has
    * residual 0, and an all-zero seed set collapses Lloyd to one entry.
    */
  private[graft] def residualCodebooks(
      rsd: DataFrame,
      idCol: String,
      m: Int,
      subDim: Int,
      pqNlist: Int,
      pqIters: Int,
  ): IndexedSeq[Seq[(Int, Seq[Float])]] =
    pqTrainAll(rsd.select(col(idCol), col("__rv")), idCol, "__rv", m, subDim, pqNlist, pqIters,
      metric = "l2", seedNonZero = true)

  /** Residual PQ codes from a prebuilt residual table: negL2 argmax per
    * subspace (the L2 coding rule, ties to the lowest code), residuals
    * dropped at the exit. Output: (neighbor_id, centroid_id, codes) — the
    * same shape as [[adcEncode]], so storage and serving are shared.
    */
  private[graft] def residualEncodeFromRsd(
      rsd: DataFrame,
      idCol: String,
      cbs: IndexedSeq[Seq[(Int, Seq[Float])]],
      m: Int,
      subDim: Int,
  ): DataFrame = {
    val codeExprs: Seq[Column] = (0 until m).map { sub =>
      val sv = slice(col("__rv"), sub * subDim + 1, subDim)
      val best = array_max(
        transform(
          typedLit(cbs(sub)),
          c => struct(negL2(sv, c.getField("_2")).as("sim"), (-c.getField("_1")).as("negid")),
        )
      )
      (-best.getField("negid")).cast("int")
    }
    rsd.select(col(idCol).as("neighbor_id"), col("centroid_id"), array(codeExprs: _*).as("codes"))
  }

  /** Residual probe pass: the plain [[adcProbes]] plus the per-cell scalar
    * `IP(q, c)` (quantized) that the IP-decomposition scoring adds to the
    * table sum — one long per probe row, constant across that cell's
    * candidates. Tables stay one row per query ([[adcTables]] on the raw
    * query subvectors vs the RESIDUAL codebooks).
    */
  private[graft] def residualProbes(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int,
  ): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(cos(col("qvec"), col("centroid")).desc, col("centroid_id"))
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("centroid_id"), q6(dot(col("qvec"), col("centroid"))).as("ipc"))
  }

  /** Residual ADC candidate scoring: `IP(q, c + r̂) = IP(q, c) + IP(q, r̂)`
    * — the probe scalar seeds the fold, the residual-codebook table
    * lookups accumulate onto it. Same broadcast shape as [[adcScored]]:
    * tables reach candidate rows but never an Exchange.
    */
  private[graft] def residualScored(
      encoded: DataFrame,
      probes: DataFrame,
      qtables: DataFrame,
      m: Int,
  ): DataFrame = {
    val adcExpr = aggregate(
      sequence(lit(0), lit(m - 1)),
      col("ipc"),
      (acc, s) => acc + element_at(element_at(col("tables"), s + 1), element_at(col("codes"), s + 1) + 1),
    )
    encoded
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qtables), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), adcExpr.as("adc"))
  }

  /** Recall@k of [[adcTopKResidual]] against exact brute force — the
    * grading row that justifies the residual encode: compared with q250's
    * plain-ADC recall at IDENTICAL constants, the residual codes must buy
    * recall or they aren't worth the per-probe table cost.
    */
  def adcResidualRecallReport(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      subDim: Int,
      pqNlist: Int,
      pqIters: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
  ): DataFrame = {
    val exact = Similarity
      .bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx =
      adcTopKResidual(corpus, queries, idCol, vecCol, centroids, m, subDim, pqNlist, pqIters, nprobe, candK, k)
        .select(col("query_id"), col("neighbor_id"))
    val hits = approx
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    queries
      .select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble)).as("recall"),
      )
  }

  /** Recall@k of [[adcTopK]] against exact brute force — the q185
    * [[recallReport]] shape with the ADC pipeline as the approx side: the
    * one number that says whether `nprobe`/`candK` (and PQ resolution
    * `m × log2(nlist)` bits) are tuned before the index serves.
    */
  def adcRecallReport(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      subDim: Int,
      pqNlist: Int,
      pqIters: Int,
      nprobe: Int,
      candK: Int,
      k: Int,
  ): DataFrame = {
    val exact = Similarity
      .bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = adcTopK(corpus, queries, idCol, vecCol, centroids, m, subDim, pqNlist, pqIters, nprobe, candK, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    queries
      .select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble)).as("recall"),
      )
  }

  /** Recall@k of the IVF search against exact brute force, per query — the
    * grading harness every ANN index needs BEFORE it serves: recall is the
    * one number that says whether `nlist`/`nprobe` are tuned or the index
    * is silently returning near-garbage.
    *
    * Shape: the exact side is [[Similarity.bruteForceTopK]] over the SAME
    * query sample the approx side answers — the expensive truth is priced
    * per SAMPLED query (queries × corpus), never corpus × corpus; the
    * approx side is [[topK]], the serving plan itself, so the report
    * measures exactly what production would return. Hits = an id-level
    * inner join of the two (query_id, neighbor_id) sets (both sides are
    * deterministic top-k with the (sim DESC, id) tie rule), and every
    * sampled query appears in the output — a query whose probed cells held
    * no true neighbor shows recall 0.0 rather than vanishing.
    */
  def recallReport(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int,
      k: Int,
  ): DataFrame = {
    val exact = Similarity
      .bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = topK(corpus, queries, idCol, vecCol, centroids, nprobe, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    queries
      .select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / lit(k.toDouble)).as("recall"),
      )
  }

  /** Per-cell quality report for a trained coarse quantizer — the
    * companion diagnostic to [[recallReport]]: cohesion (mean/min cosine of
    * members to their OWN centroid, exact via per-micro quantized sims) and
    * separation (each centroid's similarity to its nearest OTHER centroid —
    * high nn_sim_q means two cells split one true cluster). Only non-empty
    * cells appear; compare `n` across rows for occupancy skew.
    *
    * Scale: the member pass is [[assign]] `withSim` — a zero-shuffle
    * codebook-literal argmax projection — feeding one cell-keyed partial
    * aggregate; the separation pass is a centroids×centroids cross join of
    * the TINY codebook, broadcast. Sims quantize to integer per-micro
    * before aggregation so the mean is an exact sum + one IEEE division.
    */
  def clusterQuality(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
  ): DataFrame = {
    val own = assign(corpus, centroids, idCol, vecCol, withSim = true)
      .select(col("centroid_id"), floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long").as("__sq"))
      .groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("__sq")).cast("double") / count(lit(1))).as("mean_sim"),
        min(col("__sq")).as("min_sim_q"),
      )
    val a = centroids.select(col("centroid_id"), col("centroid").as("__va"))
    val b = centroids.select(col("centroid_id").as("__cb"), col("centroid").as("__vb"))
    val sep = a
      .crossJoin(broadcast(b))
      .filter(col("centroid_id") =!= col("__cb"))
      .withColumn("__nq", floor(cos(col("__va"), col("__vb")) * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("centroid_id"))
      .agg(max(col("__nq")).as("nn_sim_q"))
    own.join(broadcast(sep), Seq("centroid_id"))
  }

  /** Out-of-distribution census over a coarse quantizer: per cell, how many
    * members sit BELOW `thresholdQ` (per-micro quantized cosine to their
    * own centroid) — the embedding-side training-data filter ("drop or
    * re-embed the stragglers") and the drift tripwire (a growing OOD share
    * in a cell means the corpus moved and the codebook didn't).
    *
    * Same zero-shuffle [[assign]] `withSim` projection as
    * [[clusterQuality]]; one cell-keyed partial aggregate; the share is an
    * exact per-mille integer.
    */
  def oodCensus(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      thresholdQ: Long,
  ): DataFrame =
    assign(corpus, centroids, idCol, vecCol, withSim = true)
      .select(col("centroid_id"), floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long").as("__sq"))
      .groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__sq") < thresholdQ, 1L).otherwise(0L)).as("n_ood"),
      )
      .withColumn("ood_milli", expr("n_ood * 1000 div n"))

  /** The drift tripwire CLOSED into a gate — the staleness check
    * [[appendToAdcIndex]]'s frozen-codebook contract depends on, as one
    * operator: given the index's FROZEN coarse centroids, compare each
    * cell's out-of-distribution share before vs after an increment and
    * decide, per cell, whether the quantizer has gone stale for it
    * (`reencode` fires when the OOD share rose >= `gateMilli` per-mille
    * over the base level; a cell the increment newly occupies compares
    * against 0 — fresh occupancy from a drifted batch IS staleness).
    *
    * Output, one row per occupied cell: (centroid_id, n_base,
    * ood_base_milli, n_merged, ood_merged_milli, reencode) — exact
    * integers plus one boolean on both engines.
    *
    * Scale: ONE pass over base ∪ increment — the zero-shuffle [[assign]]
    * projection with the base/increment tag carried through (`keep`), then
    * a single cell-keyed partial aggregate computing BOTH censuses as
    * conditional sums. Running [[oodCensus]] twice would scan the base
    * corpus twice for the same answer.
    */
  def oodDriftGate(
      base: DataFrame,
      increment: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      thresholdQ: Long,
      gateMilli: Long,
  ): DataFrame = {
    val flagged = base
      .select(col(idCol), col(vecCol), lit(0L).as("__inc"))
      .unionAll(increment.select(col(idCol), col(vecCol), lit(1L).as("__inc")))
    assign(flagged, centroids, idCol, vecCol, withSim = true, keep = Seq("__inc"))
      .select(
        col("centroid_id"),
        col("__inc"),
        floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long").as("__sq"),
      )
      .groupBy(col("centroid_id"))
      .agg(
        sum(when(col("__inc") === 0L, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("__inc") === 0L && col("__sq") < thresholdQ, 1L).otherwise(0L)).as("__ood_base"),
        count(lit(1)).as("n_merged"),
        sum(when(col("__sq") < thresholdQ, 1L).otherwise(0L)).as("__ood_merged"),
      )
      .withColumn("ood_base_milli", expr("CASE WHEN n_base = 0 THEN 0L ELSE __ood_base * 1000 div n_base END"))
      .withColumn("ood_merged_milli", expr("__ood_merged * 1000 div n_merged"))
      .select(
        col("centroid_id"),
        col("n_base"),
        col("ood_base_milli"),
        col("n_merged"),
        col("ood_merged_milli"),
        (col("ood_merged_milli") - col("ood_base_milli") >= gateMilli).as("reencode"),
      )
  }

  /** ACT on [[oodDriftGate]]'s verdict — the repair that closes the drift
    * loop at the actuation, not just the measurement: for the flagged
    * cells ONLY, move the cell's coarse centroid to the MEAN of its
    * current members (the [[train]] update step, applied per cell) and
    * re-encode those members' residual codes against the moved centroid
    * under the FROZEN residual codebooks; quiet cells' posting-list files
    * are untouched — byte-identical (the surgical contract that makes a
    * nightly repair cheaper than the full rebuild it replaces).
    *
    * Why this is the right lever for the RESIDUAL layout (and only it):
    * residual codes quantize `v − centroid(cell)`, so a drifted cell's
    * members carry residuals far outside the ball the frozen codebooks
    * were trained on — the encode degrades exactly where the gate fired.
    * Re-centering restores small residuals and the frozen codebooks apply
    * again; recall recovers without touching codebooks or quiet cells
    * (measured in ExtensionSpec and BENCHNOTES). Plain codes quantize `v`
    * itself — they do not depend on the centroid, and repairing a stale
    * PLAIN index means retraining its GLOBAL codebooks, i.e. a rebuild;
    * this operator refuses the plain layout loudly rather than pretend a
    * per-cell lever exists.
    *
    * Semantics pinned by the q271 oracle:
    *  - membership is FROZEN: members are read from the stored posting
    *    lists THEMSELVES — the codes files, partition-pruned to the
    *    flagged cells, joined back to the corpus for vectors. The files
    *    are the membership of record: re-running [[assign]] against the
    *    live centroids table would be wrong the SECOND time a repair runs
    *    (the first repair moved the flagged centroids, so a later
    *    re-assignment can disagree with the frozen posting lists — a
    *    vector whose argmax flipped would silently drop from, or
    *    duplicate into, the rewrite). Reading the files makes repairs
    *    COMPOSE: sequential repairs over disjoint flagged sets equal one
    *    repair of the union (q274 pins that against the q271 mirror),
    *    so the documented nightly cadence is sound;
    *  - the new centroid is the per-dim double mean of the members, cast
    *    to float (the [[train]] update arithmetic);
    *  - the residual re-encode is `v − newCentroid` through
    *    [[residualEncodeFromRsd]] with the INDEX's codebooks (frozen).
    *
    * Commit order is codes THEN centroids, and that makes a crashed
    * repair CONVERGENT under re-run: the re-encode rewrites each flagged
    * cell's files VALUE-for-value on the (id, cell) membership — same
    * rows, new code bytes — so whether a re-run reads the old or the
    * already-swapped files it recomputes the identical members, means
    * and codes, re-swaps idempotently, and completes the centroid write.
    * The cell swap itself is the [[swapCellDirsIn]] rename-aside contract
    * with [[selfHealCellSwaps]] at entry (and its atomic-rename
    * filesystem assumption — see that Scaladoc for the object-store
    * manifest alternative). A crash BETWEEN the codes swap
    * and the centroids commit leaves flagged cells encoded against the
    * new centroid but probed against the old — re-running the repair (the
    * restart path) converges; a reader in that window sees degraded, not
    * corrupt, results for the flagged cells only.
    *
    * Replay fencing (`minRetainedBatchId`): the rewrite drops the
    * `batch<id>-` file names [[appendToAdcIndex]]'s idempotent replay
    * keys on, so repairing a cell ENDS the replay window of every batch
    * whose files it holds — a batch replayed afterwards would re-land its
    * rows as duplicates. Like [[compactAdcIndexCodes]], the repair
    * refuses loudly when a flagged cell holds a batch landing at or above
    * the watermark (or ANY batch landing when no watermark is given):
    * pass the ingest checkpoint's committed offset — batches below it are
    * fenced (can no longer replay) and safe to rewrite. Unlike
    * compaction, a repair cannot RETAIN the newer files instead: a cell's
    * codes all quantize residuals against that cell's one centroid, so a
    * partial re-encode would mix two centroid bases in one posting list.
    *
    * Scale: ONE partition-pruned read of the flagged cells' posting
    * lists, one id-equi-join against the corpus for the members' vectors
    * (bounded by the flagged membership — AQE broadcasts the posting side
    * when it is small), one tiny per-cell mean aggregate, one map-only
    * re-encode of the flagged cells' rows, file moves bounded by the
    * flagged cells. Returns the repair census: (centroid_id,
    * n_members, centroid_shift_q) — shift = per-micro quantized cosine
    * between the old and new centroid, the observability row a nightly
    * job logs.
    */
  def repairDriftedIndexCells(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      flaggedCells: Seq[Int],
      minRetainedBatchId: Option[Long] = None,
  ): DataFrame = {
    import spark.implicits._
    val variant = loadVariant(spark, dir)
    require(
      variant == "residual",
      "repairDriftedIndexCells: per-cell repair is a RESIDUAL-layout lever (codes quantize " +
        "v - centroid, so re-centering restores the frozen codebooks' ball). Plain codes do not " +
        "depend on the centroid; a stale plain index needs its global codebooks retrained - a rebuild.",
    )
    if (flaggedCells.isEmpty) {
      // a nightly run where nothing gated: legitimate no-op, empty census
      return Seq.empty[(Int, Long, Long)].toDF("centroid_id", "n_members", "centroid_shift_q")
    }
    val codes = s"$dir/codes"
    val fs = new org.apache.hadoop.fs.Path(codes).getFileSystem(spark.sessionState.newHadoopConf())
    requireNoManifest(fs, dir, "repairDriftedIndexCells")
    selfHealCellSwaps(fs, dir)
    // The replay fence (see Scaladoc and [[unfencedLandingsInTree]]) —
    // over EVERY cell, not just the flagged ones: a replay after this
    // repair re-assigns against the MOVED centroids, so any unfenced
    // landing's rows can migrate cells and its prior files escape the
    // replay's touched-cell sweep (duplicate rows served).
    val unfenced = unfencedLandingsInTree(fs, codes, minRetainedBatchId)
    require(
      unfenced.isEmpty,
      s"repairDriftedIndexCells: the index holds batch landings that may still replay " +
        s"(cell, batchId): ${unfenced.mkString(", ")} - a replay after this repair re-assigns " +
        "against the MOVED centroids, so its rows can migrate cells and its prior files escape " +
        "the replay's touched-cell sweep (duplicate rows served). Pass minRetainedBatchId = " +
        "Some(w) (the ingest checkpoint's committed offset; batches < w are fenced), or fence the " +
        "replays and pass Some(maxBatchId + 1).",
    )
    val centroids = Lineage.truncate(spark.read.parquet(s"$dir/centroids"))
    val cbs = loadCodebooks(spark, dir, m)
    val subDim = cbs.head.head._2.length
    // Members = the STORED posting lists (the membership of record),
    // partition-pruned to the flagged cells, joined to the corpus for
    // vectors — never a re-assignment against the live centroids, which
    // would migrate rows on the second repair after centroids moved.
    val stored = Lineage.truncate(
      spark.read
        .parquet(codes)
        .filter(col("centroid_id").isin(flaggedCells: _*))
        .select(col("neighbor_id").as(idCol), col("centroid_id"))
    )
    val newRoot = s"$dir/codes_repair_new"
    // Member join, completeness gate, per-cell mean (the train() update
    // step), frozen-codebook re-encode and the row-count gate are
    // [[repairEncodeMembers]], shared verbatim with the manifest-mode
    // repair — only the COMMIT differs below (swap + centroids two-step
    // here; one generation object there).
    val (members, newCents, _) = repairEncodeMembers(
      spark, stored, corpus, idCol, vecCol, cbs, m, subDim, newRoot, "repairDriftedIndexCells")
    val sortedCells = flaggedCells.distinct.sorted
    swapCellDirsIn(fs, dir, newRoot, sortedCells, "repairDriftedIndexCells")
    // Centroids commit LAST (the convergence argument above): flagged rows
    // take the new mean, quiet rows pass through; the table swaps via a
    // fresh dir + rename so a crash mid-write cannot half-update it.
    val repaired = Lineage.truncate(
      centroids
        .join(broadcast(newCents.withColumnRenamed("centroid", "__nc")), Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__nc"), col("centroid")).as("centroid"))
    )
    val centsNew = s"$dir/centroids_repair_new"
    repaired.coalesce(1).write.mode("overwrite").parquet(centsNew)
    val centsLive = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val centsAside = new org.apache.hadoop.fs.Path(s"$dir/centroids_repair_aside")
    if (fs.exists(centsAside)) fs.delete(centsAside, true)
    require(fs.rename(centsLive, centsAside), "repairDriftedIndexCells: centroids aside rename failed")
    require(
      fs.rename(new org.apache.hadoop.fs.Path(centsNew), centsLive),
      "repairDriftedIndexCells: centroids swap-in rename failed",
    )
    fs.delete(centsAside, true)
    repairCensus(members, newCents, centroids)
  }
}
