package graft

import graft.functions.TextAnalysis
import graft.operators.{Dedup, IvfIndex, Quality, Similarity}
import org.apache.spark.sql.functions._

/** Unit tests for the quality/curation operator family added in round 6:
  * Gopher-shape metrics, repetition fractions, PII redaction, stratified
  * hash sampling, TF-IDF, the cosineNearDupPairs block guard, reliable
  * checkpointing for the iterative CC operators, and the zero-shuffle IVF
  * assignment plan.
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("gopherMetrics: counts and mean word length on a known doc") {
    val df = Seq((1L, "the cat sat on a mat")).toDF("doc_id", "text")
    val m = Quality.gopherMetrics(col("__toks")).toMap
    val row = df
      .withColumn("__toks", TextAnalysis.wsTokens(col("text")))
      .select(
        m("n_words").as("n"),
        m("mean_word_len").as("len"),
        m("stop_hits").as("stop"),
        m("alpha_words").as("alpha"),
      )
      .head()
    assert(row.getInt(0) == 6)
    // chars: 3+3+3+2+1+3 = 15 over 6 words
    assert(math.abs(row.getDouble(1) - 15.0 / 6.0) < 1e-12)
    assert(row.getInt(2) == 2) // 'the' and 'a' are in the en stopword list
    assert(row.getInt(3) == 6)
  }

  test("dupFraction: empty, all-distinct, and half-duplicated arrays") {
    val df = Seq(
      (1L, Seq[String]()),
      (2L, Seq("a", "b", "c", "d")),
      (3L, Seq("a", "a", "b", "b")),
    ).toDF("id", "arr")
    val got = df.select($"id", TextAnalysis.dupFraction($"arr").as("f")).as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 0.0)
    assert(got(3L) == 0.5)
  }

  test("PII: patternCount finds and redactPii rewrites email/ip/phone") {
    val s = "write bob.smith+x@corp.example.org from 192.168.0.1 or +1-555-0199 ok"
    val df = Seq(s).toDF("t")
    val row = df
      .select(
        TextAnalysis.patternCount($"t", TextAnalysis.EmailPattern).as("e"),
        TextAnalysis.patternCount($"t", TextAnalysis.Ipv4Pattern).as("i"),
        TextAnalysis.patternCount($"t", TextAnalysis.PhonePattern).as("p"),
        TextAnalysis.redactPii($"t").as("r"),
      )
      .head()
    assert(row.getInt(0) == 1 && row.getInt(1) == 1 && row.getInt(2) == 1)
    assert(row.getString(3) == "write <EMAIL> from <IP> or <PHONE> ok")
  }

  test("stratifiedHashSample: deterministic, per-stratum rates applied") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val sample = Quality
      .stratifiedHashSample(docs, $"text", $"lang", Map("en" -> 0.2), defaultRate = 0.5)
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
    val again = Quality
      .stratifiedHashSample(docs, $"text", $"lang", Map("en" -> 0.2), defaultRate = 0.5)
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
    assert(sample.sameElements(again), "hash sampling must be exactly reproducible")
    // loose uniformity bounds: en kept at ~20%, the rest at ~50%
    val total = docs.groupBy($"lang" === "en").count().as[(Boolean, Long)].collect().toMap
    val kept = Quality
      .stratifiedHashSample(docs, $"text", $"lang", Map("en" -> 0.2), defaultRate = 0.5)
      .groupBy($"lang" === "en")
      .count()
      .as[(Boolean, Long)]
      .collect()
      .toMap
    val enRate = kept(true).toDouble / total(true)
    val otherRate = kept(false).toDouble / total(false)
    assert(enRate > 0.1 && enRate < 0.3, s"en rate $enRate")
    assert(otherRate > 0.38 && otherRate < 0.62, s"other rate $otherRate")
  }

  test("tfidfTopTerms: corpus-wide tokens score zero, rare tokens win") {
    val docs = Seq(
      (1L, "common alpha alpha"),
      (2L, "common beta"),
      (3L, "common gamma"),
    ).toDF("doc_id", "text")
    val top = Quality
      .tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .as[(Long, Int, String, Long)]
      .collect()
      .map(r => r._1 -> (r._3, r._4))
      .toMap
    val ln2Scaled = math.floor(math.log(4.0 / 2.0) * 1e6 + 0.5).toLong
    // 'common' has df=3 -> idf ln(4/4)=0; each doc's unique token (df=1 ->
    // ln(4/2)) must rank first, with tf=2 doubling doc 1's score
    assert(top(1L) == ("alpha", 2 * ln2Scaled))
    assert(top(2L) == ("beta", ln2Scaled))
    assert(top(3L) == ("gamma", ln2Scaled))
  }

  test("unigramSurprisal: head/tail split is invisible — tiny headK == whole-vocab broadcast") {
    // At test scale the default headK exceeds the vocab, so the tail
    // shuffle-join path would otherwise never execute; forcing headK=2
    // routes almost every token occurrence through the tail and must yield
    // bit-identical results (integer lps sums are path-independent).
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val whole = Quality
      .unigramSurprisal(docs, "doc_id", "text")
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(_._1)
    val split = Quality
      .unigramSurprisal(docs, "doc_id", "text", headK = 2)
      .as[(Long, Long, Double)]
      .collect()
      .sortBy(_._1)
    assert(split.sameElements(whole), "headK must not change results")
  }

  test("Decontaminate.containment: closed-form fractions incl. zero-gram docs") {
    import graft.operators.Decontaminate
    // eval grams (n=2): "a b", "b c"
    val eval = Seq((100L, "a b c")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d"), // grams: a-b, b-c, c-d -> 2/3 contained
      (2L, "x y z"), //   grams: x-y, y-z      -> 0/2
      (3L, "q"), //       shorter than n       -> 0 grams, containment 0.0
    ).toDF("doc_id", "text")
    val got = Decontaminate
      .containment(corpus, eval, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4)))
      .toMap
    assert(got(1L) == ((3L, 2L, 2.0 / 3.0)))
    assert(got(2L) == ((2L, 0L, 0.0)))
    assert(got(3L) == ((0L, 0L, 0.0)))
  }

  test("cosineNearDupPairs: oversized block fails loudly (parity with jaccardPairs)") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "blk"),
      (2L, Seq(1.0f, 0.0f), "blk"),
      (3L, Seq(0.0f, 1.0f), "blk"),
    ).toDF("id", "vec", "block")
    val e = intercept[IllegalStateException](
      Similarity.cosineNearDupPairs(df, "id", "vec", "block", 0.9, maxBlockRows = 2)
    )
    assert(e.getMessage.contains("maxBlockRows") && e.getMessage.contains("cosineNearDupPairsLsh"), e.getMessage)
    val ok = Similarity.cosineNearDupPairs(df, "id", "vec", "block", 0.9, maxBlockRows = 3)
    assert(ok.select("id_a", "id_b").as[(Long, Long)].collect().toSet == Set((1L, 2L)))
  }

  test("simhashPairsRotated: superset of single-prefix recall, exactly-once emission") {
    val docs = spark.read.parquet(sf() + "/documents.parquet").select($"doc_id", $"text")
    val single = Dedup
      .simhashPairs(docs, "doc_id", "text", bits = 16, prefixBits = 6, maxDist = 3)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    val rotatedRows = Dedup
      .simhashPairsRotated(docs, "doc_id", "text", bits = 16, prefixBits = 6, maxDist = 3, rotations = 2)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
    val rotated = rotatedRows.toSet
    assert(rotatedRows.length == rotated.size, "each pair must be emitted exactly once")
    assert(single.subsetOf(rotated), "rotation 0 is the single-prefix bucket — nothing may be lost")
  }

  test("connected components: reliable checkpointing matches local, both operators") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val local = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val rel = Dedup.connectedComponents(edges, reliable = true).as[(Long, Long)].collect().toMap
    val relStar = Dedup.connectedComponentsStar(edges, reliable = true).as[(Long, Long)].collect().toMap
    assert(rel == local && relStar == local, s"local=$local rel=$rel star=$relStar")
  }

  test("spark.graft.reliableCheckpoints=true flips every operator to replicated checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-conf").toString
    spark.sparkContext.setCheckpointDir(dir)
    val docs = spark.read.parquet(sf() + "/documents.parquet").select($"doc_id", $"text")
    val before = Dedup
      .minhashNearDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    spark.conf.set(graft.operators.Lineage.ConfKey, "true")
    try {
      val after = Dedup
        .minhashNearDupPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
        .as[(Long, Long)]
        .collect()
        .toSet
      assert(after == before, "reliable checkpointing must not change results")
      // the replicated checkpoint must actually have been written
      val written = new java.io.File(dir).listFiles()
      assert(written != null && written.nonEmpty, s"no reliable checkpoint written under $dir")
    } finally spark.conf.set(graft.operators.Lineage.ConfKey, "false")
  }

  test("Lineage.truncate always checkpoints: no session conf turns it into a pass-through") {
    import org.apache.spark.sql.execution.LogicalRDD
    // the retired plan-dump switch; a stray setting must not change execution
    val key = "spark.graft.dumpFullPlans"
    spark.conf.set(key, "true")
    try {
      val cut = graft.operators.Lineage.truncate(spark.range(10).toDF("id"))
      assert(cut.queryExecution.analyzed.isInstanceOf[LogicalRDD], cut.queryExecution.analyzed)
      assert(cut.count() == 10)
    } finally spark.conf.unset(key)
  }

  test("chunkDocuments: window/overlap arithmetic, short docs, full coverage") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, chunk=4, overlap=1 -> stride 3 -> 3 chunks
      (2L, "a b"), //                                    shorter than one chunk -> single chunk
      (3L, ""), //                                       empty-ish (one "" token after split)
    ).toDF("doc_id", "text")
    val got = Quality
      .chunkDocuments(docs, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .as[(Long, Int, Int, String)]
      .collect()
      .groupBy(_._1)
    assert(got(1L).sortBy(_._2).map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0, 4, "t1 t2 t3 t4"),
      (1, 4, "t4 t5 t6 t7"),
      (2, 4, "t7 t8 t9 t10"),
    ))
    assert(got(2L).toSeq == Seq((2L, 0, 2, "a b")))
    assert(got(3L).length == 1) // one (possibly empty) chunk, never zero rows
    // every token position is covered by at least one chunk
    val covered = got(1L).flatMap(c => c._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("compressionRatio: repetitive text compresses far better; deterministic; codegen-safe") {
    import graft.functions.CompressionRatio.compressionRatio
    val repetitive = "spam spam spam " * 100
    val varied = (0 until 300).map(i => s"w${i * 2654435761L % 9973}").mkString(" ")
    val df = Seq((1L, repetitive), (2L, varied), (3L, "")).toDF("id", "t")
    val got = df.select($"id", compressionRatio($"t").as("r")).as[(Long, Double)].collect().toMap
    assert(got(1L) < 0.1, s"repetitive ratio ${got(1L)}")
    assert(got(2L) > 0.3, s"varied ratio ${got(2L)}")
    assert(got(3L) == 1.0, "empty text contract")
    assert(got(1L) < got(2L))
    // deterministic across executions (ThreadLocal deflater state resets)
    val again = df.select($"id", compressionRatio($"t").as("r")).as[(Long, Double)].collect().toMap
    assert(again == got)
    // full-corpus scan stays inside whole-stage codegen
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val scan = docs.select(compressionRatio($"text").as("r"))
    scan.collect()
    // `*(n)` prefixes mark WholeStageCodegen stages in the compact plan form
    val p = scan.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("compression_ratio")), p)
  }

  test("IVF assign is a zero-shuffle projection: no Exchange in the plan") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", nlist = 4, iters = 0)
    val p = IvfIndex.assign(emb, centroids, "vec_id", "embedding").queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assign must be map-only:\n$p")
  }

  test("semDedup: within-cluster near-dups drop to one survivor; distant vectors survive") {
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "centroid")
    val emb = Seq(
      (1L, Seq(1.0f, 0.01f)), // cluster 0
      (2L, Seq(1.0f, 0.02f)), // cluster 0, cos(1,2) ≈ 0.99995 -> drops (non-minimal)
      (3L, Seq(0.01f, 1.0f)), // cluster 1
      (4L, Seq(0.6f, 0.8f)), // cluster 1 (cos 0.8 vs c1, 0.6 vs c0); cos(3,4) ≈ 0.806 -> kept
    ).toDF("vec_id", "embedding")
    val kept = Similarity
      .semDedup(emb, "vec_id", "embedding", cents, threshold = 0.99)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(kept == Set(1L, 3L, 4L), kept.toString)
  }

  test("semDedup representative: A~B~C chain keeps exactly the centroid-nearest; default over-drops") {
    import scala.math.{cos, sin, toRadians => rad}
    def v(deg: Double) = Seq(cos(rad(deg)).toFloat, sin(rad(deg)).toFloat)
    val cents = Seq((0, Seq(1f, 0f))).toDF("centroid_id", "centroid")
    // chain: cos(A,B) = cos(B,C) = cos20° ≈ 0.94 >= 0.9; cos(A,C) = cos40° ≈ 0.77 < 0.9
    val emb = Seq((1L, v(40)), (2L, v(20)), (3L, v(0)))
      .toDF("vec_id", "embedding") // C (id 3) is centroid-nearest (cos 1.0)
    def run(rep: Boolean) = Similarity
      .semDedup(emb, "vec_id", "embedding", cents, threshold = 0.9, representative = rep)
      .collect().map(_.getLong(0)).toSet
    // default drop-id_b policy: pairs (1,2),(2,3) -> drops {2,3}. C dropped
    // even though its only qualifying partner B was itself dropped.
    assert(run(rep = false) == Set(1L), run(rep = false).toString)
    // representative: one component {1,2,3}, survivor = centroid-nearest C
    assert(run(rep = true) == Set(3L), run(rep = true).toString)
  }

  test("bigramSurprisal: hand-computed corpus-LM scores; short docs emit no row") {
    // bt: (a,b)=2, (b,a)=1, (a,c)=1; ut: a=3, b=1
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    def q(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val got = Quality
      .bigramSurprisal(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ((3L, -(2 * q(2.0 / 3) + q(1.0)))), 2L -> ((1L, -q(1.0 / 3)))), got.toString)
    // doc 3 has one token -> no bigrams -> absent; the rarer-transition doc
    // scores higher PER BIGRAM (the fluency signal)
    assert(!got.contains(3L) && got(2L)._2 * got(1L)._1 > got(1L)._2 * got(2L)._1)
  }

  test("importanceWeights: hand-computed add-1 smoothed DSIR scores") {
    // vocab: aa (cnt_r=2, cnt_t=2), bb (cnt_r=2, cnt_t=0); tot_r=4, tot_t=2, nv=2
    val docs = Seq((1L, "aa aa", "tgt"), (2L, "bb bb", "raw")).toDF("doc_id", "text", "source")
    def q(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val wAa = q(3.0 / 4) - q(3.0 / 6) // (cnt_t+1)/(tot_t+nv) vs (cnt_r+1)/(tot_r+nv)
    val wBb = q(1.0 / 4) - q(3.0 / 6)
    val got = Quality
      .importanceWeights(docs, "doc_id", "text", col("source") === "tgt")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ((2L, 2 * wAa)), 2L -> ((2L, 2 * wBb))), got.toString)
    // the target-looking doc must outscore the anti-target doc
    assert(got(1L)._2 > 0 && got(2L)._2 < 0)
  }

  test("hardNegatives: per-vector best other-label neighbor within its cluster; pure cells emit nothing") {
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "centroid")
    val emb = Seq(
      (1L, Seq(1.0f, 0.01f), "A"), // cluster 0
      (2L, Seq(1.0f, 0.02f), "B"), // cluster 0 — mutual hard negative with 1
      (3L, Seq(0.9f, 0.1f), "A"), // cluster 0 — its only B is 2
      (4L, Seq(0.01f, 1.0f), "A"), // cluster 1 alone: pure cell -> no row
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .hardNegatives(emb, "vec_id", "embedding", "label", cents)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 2L), got.toString)
  }

  test("filterFunnel: cumulative stage accounting in one pass") {
    val docs = Seq("a", "bb", "ccc").toDF("text")
    val out = Quality
      .filterFunnel(
        docs,
        Seq("len_ge_2" -> (length(col("text")) >= 2), "len_ge_3" -> (length(col("text")) >= 3)),
      )
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(out == Set((1, "len_ge_2", 3L, 2L, 1L), (2, "len_ge_3", 2L, 1L, 1L)), out.toString)
  }

  test("materializeSequences: hand-computed manifest — packs never span splits or shards") {
    import graft.operators.Assemble
    // shards=1 so only the split partitions packs; chunkTokens=2, capacity=3.
    // doc 10: 5 tokens -> chunks (2,2,1); doc 11: 2 tokens -> chunk (2).
    val docs = Seq(
      (10L, "a b c d e"),
      (11L, "p q"),
    ).toDF("doc_id", "text")
    val out = Assemble
      .materializeSequences(docs, "doc_id", "text", chunkTokens = 2, capacityTokens = 3, shards = 1,
        trainPct = 100, valPct = 0) // force one split so the packing math is deterministic
      .orderBy("split", "shard", "pack_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // chunk stream in (doc, chunk) order: 2, 2, 1 (doc 10), 2 (doc 11);
    // cum_before: 0, 2, 4, 5 -> packs 0, 0, 1, 1.
    assert(out.toSeq == Seq(
      ("train", 0L, 0L, 2L, 4L, 1L, 10L),
      ("train", 0L, 1L, 2L, 3L, 2L, 10L),
    ))
  }

  test("regressionStats: exact fit, hand-computed noisy fit, degenerate-x NULLs") {
    val rows = Seq(
      // g1: y = 2x + 1 exactly -> slope 2, intercept 1, r2 = 1
      ("g1", 1L, 3L), ("g1", 2L, 5L), ("g1", 3L, 7L),
      // g2: (0,0),(1,0),(2,3): n=3 sx=3 sy=3 sxx=5 sxy=6 syy=9
      //     num = 18-9 = 9, denx = 15-9 = 6, deny = 27-9 = 18
      //     slope = 1.5, intercept = (3 - 1.5*3)/3 = -0.5, r2 = 81/108 = 0.75
      ("g2", 0L, 0L), ("g2", 1L, 0L), ("g2", 2L, 3L),
      // g3: constant x -> slope/intercept/r2 all NULL
      ("g3", 4L, 1L), ("g3", 4L, 9L),
    ).toDF("g", "x", "y")
    val out = Quality.regressionStats(rows, "g", col("x"), col("y"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
      .toMap
    assert(out("g1") == ((3L, Some(2.0), Some(1.0), Some(1.0))))
    assert(out("g2") == ((3L, Some(1.5), Some(-0.5), Some(0.75))))
    assert(out("g3") == ((2L, None, None, None)))
  }

  test("readability: hand-computed run counts and the per-mille closed form") {
    val df = Seq((1L, "Go now. Stop!")).toDF("doc_id", "text")
    val r = Quality.readability(df, "doc_id", "text").head()
    // words 3; sentence runs '.' and '!' = 2; vowel runs o/o/o = 3.
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 3L)
    assert(r.getLong(4) == 390L * 3 / 2 + 11800L * 3 / 3 - 15590L)
  }

  test("tokenGini: uniform corpus scores exactly 0; hand-computed skew") {
    val uniform = Seq("a b c").toDF("text")
    val u = Quality.tokenGini(uniform, "text").head()
    assert(u.getLong(0) == 3L && u.getLong(1) == 3L && u.getDouble(2) == 0.0)
    // freqs {a: 3, b: 1}: ranks b=1, a=2 -> G = (2*7 - 3*4) / (2*4) = 0.25.
    val skew = Seq("a a a b").toDF("text")
    val s = Quality.tokenGini(skew, "text").head()
    assert(s.getLong(0) == 2L && s.getLong(1) == 4L && s.getDouble(2) == 0.25)
  }
}
