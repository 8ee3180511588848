package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS algorithm): slide a window of `w` consecutive token-`k`-gram
  * hashes over each document and keep each window's MINIMUM hash (ties →
  * the RIGHTMOST minimal position, the "robust winnowing" rule). The
  * selected (position, hash) set is a ~`2/(w+1)`-density fingerprint with
  * the guarantee that any shared substring of at least `k + w - 1` tokens
  * yields at least one shared fingerprint — the positional, guarantee-
  * carrying alternative to the `0 mod p` sampling of
  * [[graft.functions.TextAnalysis.fingerprint]].
  *
  * Mirrors the reference's row-wise text scan shape (`parser.py:61-63`
  * iterates rows transforming each independently) as pure per-row Spark
  * projections + one per-doc window.
  *
  * Determinism: gram hashes are [[Hashing.hash64]] (md5-derived — the
  * DuckDB oracle reproduces them verbatim); window selection is
  * `min(struct(hash, -pos))`, whose lexicographic struct ordering both
  * engines share, so the tie rule needs no epsilon anywhere.
  *
  * Contract: documents with fewer than `k + w - 1` tokens (no complete
  * window) emit NO fingerprints — explicit, like q21's empty-token rule.
  */
object Winnow {

  /** Selected fingerprints: one row per distinct (doc, fp_pos, fp_hash).
    *
    * Scale design: gram hashes are computed INSIDE a `transform` over the
    * token array and only then positionally exploded, so the exploded
    * stream is (id, g_total, pos, hash) — the token array is never
    * duplicated per gram row. The window and the distinct both key on the
    * doc id: ONE doc-partitioned exchange end to end (the distinct's
    * grouping key (doc, pos, hash) is a superset of the window's
    * partitioning, so `HashPartitioning(doc)` already satisfies it).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow: k and w must be positive: k=$k w=$w")
    val grams = docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__tk"))
      .filter(size(col("__tk")) >= k + w - 1)
      .select(
        col(idCol),
        (size(col("__tk")) - (k - 1)).as("__g_total"),
        posexplode(
          transform(
            sequence(lit(1), size(col("__tk")) - (k - 1)),
            p => Hashing.hash64(array_join(slice(col("__tk"), p, lit(k)), " ")),
          )
        ).as(Seq("__p0", "__h")),
      )
      .select(col(idCol), col("__g_total"), (col("__p0") + 1).as("__pos"), col("__h"))
    val win = Window
      .partitionBy(col(idCol))
      .orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__m", min(struct(col("__h").as("h"), (-col("__pos")).as("np"))).over(win))
      .filter(col("__pos") <= col("__g_total") - (w - 1))
      .select(
        col(idCol),
        col("__g_total").as("n_grams"),
        (-col("__m.np")).as("fp_pos"),
        col("__m.h").as("fp_hash"),
      )
      .distinct()
  }

  /** Per-document fingerprint summary card: gram count, fingerprint count,
    * min/max, and an order-independent XOR checksum (BIGINT-safe — a SUM of
    * 60-bit hashes would overflow). Rides [[fingerprints]]' single
    * doc-keyed exchange: the summary groupBy re-uses the same key.
    */
  def fingerprintSummary(docs: DataFrame, idCol: String, textCol: String, k: Int = 3, w: Int = 4): DataFrame =
    fingerprints(docs, idCol, textCol, k, w)
      .groupBy(col(idCol))
      .agg(
        max(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_fps"),
        min(col("fp_hash")).as("min_fp"),
        max(col("fp_hash")).as("max_fp"),
        expr("bit_xor(fp_hash)").as("xor_fp"),
      )

  /** Document pairs sharing at least `minShared` fingerprint HASHES (the
    * MOSS match report). Fingerprints whose hash appears in more than
    * `maxDocsPerFp` documents are dropped first — boilerplate/ubiquitous
    * n-grams, exactly MOSS's "too common to be interesting" rule — which
    * simultaneously BOUNDS the bucket fan-out of the pair join: a hash
    * contributes at most `maxDocsPerFp²/2` pairs, so no skewed bucket can
    * go quadratic (the drop is the algorithm here, not a loud-fail guard,
    * because commonness is a semantic filter for matching).
    *
    * Scale design: the doc-frequency table, the filtered posting list and
    * the self-join all key on fp_hash and ride one pinned exchange; the
    * pair aggregation keys on (id_a, id_b).
    */
  def overlapPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDocsPerFp: Int = 20,
  ): DataFrame = {
    // Pinned before the doc-frequency count, not after it: see [[Pin.byKey]].
    val fp = Pin.byKey(
      fingerprints(docs, idCol, textCol, k, w).select(col(idCol).as("id"), col("fp_hash")).distinct(),
      col("fp_hash"),
    )
    val freq = fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("__ndocs"))
    val keep = fp.join(freq.filter(col("__ndocs") <= maxDocsPerFp), "fp_hash")
    Pin
      .selfJoin(keep, Seq("fp_hash"), col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
