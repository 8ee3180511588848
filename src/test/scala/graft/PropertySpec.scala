package graft

import graft.ops.{Combine, Normalize, Unpivot}
import org.scalacheck.Gen

/** Property-based tests (SURVEY §5.3): melt∘nest round-trip identity, date
  * normalization over the full `M/d/yy` domain vs an independent model, and
  * Combine (J2/R2) vs a Scala Map reference implementation on generated
  * tables including missing-side cases. (Raw scalacheck Gen sampling — the
  * scalatestplus bridge isn't in the offline dependency set.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[T](g: Gen[T], n: Int = 40)(f: T => Unit): Unit = {
    val seed = org.scalacheck.rng.Seed(42L)
    Iterator
      .iterate(seed)(_.next)
      .map(s => g.apply(Gen.Parameters.default, s))
      .flatten
      .take(n)
      .foreach(f)
  }

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc), 25) { case (a, b, c) => f(a, b, c) }

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  /** JVM model of [[graft.functions.Hashing.hash64]] (md5 prefix, 60 bits). */
  private def modelHash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private val dateGen: Gen[(Int, Int, Int)] = for {
    y <- Gen.choose(0, 99)
    m <- Gen.choose(1, 12)
    maxD = m match {
      case 2               => if ((yFor(y) % 4 == 0 && yFor(y) % 100 != 0) || yFor(y) % 400 == 0) 29 else 28
      case 4 | 6 | 9 | 11  => 30
      case _               => 31
    }
    d <- Gen.choose(1, maxD)
  } yield (m, d, y)

  private def yFor(yy: Int): Int = if (yy >= 69) 1900 + yy else 2000 + yy

  test("P4: normalizeDateName matches an independent model over the full M/d/yy domain") {
    forAll(dateGen) { case (m, d, yy) =>
      val got = Normalize.normalizeDateName(f"$m/$d/$yy%02d")
      val want = f"${yFor(yy)}%04d-$m%02d-$d%02d 00:00:00"
      assert(got == want, f"$m/$d/$yy%02d")
    }
  }

  test("R1: meltDates inverts nest (same (key, date, value) triples)") {
    val tableGen = for {
      nDates <- Gen.choose(1, 5)
      dates <- Gen.listOfN(nDates, dateGen).map(_.distinct.map { case (m, d, y) => f"$m/$d/$y%02d" })
      nRows <- Gen.choose(1, 6)
      rows <- Gen.listOfN(nRows, Gen.listOfN(dates.length, Gen.choose(0, 1000)))
    } yield (dates, rows)
    forAll(tableGen) { case (dates, rows) =>
      whenever(dates.nonEmpty && rows.nonEmpty) {
        val keyed = rows.zipWithIndex.map { case (vs, i) => s"k$i" +: vs.map(_.toString) }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(keyed.map(org.apache.spark.sql.Row.fromSeq(_)), 2),
          org.apache.spark.sql.types.StructType(
            ("k" +: dates).map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType))
          ),
        )
        val viaMelt = Unpivot
          .meltDates(df)
          .select("k", "date", "value")
          .as[(String, String, Int)]
          .collect()
          .toSet
        val expected = keyed.flatMap { r =>
          dates.zipWithIndex.map { case (dc, i) =>
            (r.head, Normalize.normalizeDateName(dc), r(i + 1).toInt)
          }
        }.toSet
        assert(viaMelt == expected)
      }
    }
  }

  test("CC: star contraction and min-label propagation agree on random graphs") {
    import graft.operators.Dedup
    val edgeGen = for {
      n <- Gen.choose(1, 14)
      edges <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L)))
    } yield edges.filter { case (a, b) => a != b }
    forAll(edgeGen, 10) { edges =>
      whenever(edges.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val star = Dedup.connectedComponentsStar(df).as[(Long, Long)].collect().toMap
        val label = Dedup.connectedComponents(df).as[(Long, Long)].collect().toMap
        assert(star == label, s"edges=$edges star=$star label=$label")
      }
    }
  }

  test("dupFraction matches a Scala multiset model on random token lists") {
    import graft.functions.TextAnalysis
    import org.apache.spark.sql.functions.col
    val toksGen = Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "eee", "ffff"))
    val samples = {
      val buf = scala.collection.mutable.ListBuffer.empty[List[String]]
      forAll(toksGen, 120)(buf += _)
      buf.toList.zipWithIndex.map { case (l, i) => (i.toLong, l) }
    }
    val got = samples
      .toDF("id", "arr")
      .select(col("id"), TextAnalysis.dupFraction(col("arr")).as("f"))
      .as[(Long, Double)]
      .collect()
      .toMap
    samples.foreach { case (id, l) =>
      val want = if (l.isEmpty) 0.0 else (l.size - l.distinct.size).toDouble / l.size
      assert(got(id) == want, s"id=$id toks=$l")
    }
  }

  test("Decontaminate.containment matches a Scala set model on random docs") {
    import graft.operators.Decontaminate
    import org.apache.spark.sql.functions.col
    val wordGen = Gen.oneOf("w0", "w1", "w2", "w3", "w4", "w5")
    val docGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    val (corpus, eval) = {
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      forAll(docGen, 80)(buf += _)
      (buf.toList.take(60).zipWithIndex.map { case (t, i) => (i.toLong, t) },
       buf.toList.drop(60))
    }
    def grams(s: String, n: Int): Set[String] =
      s.split("\\s+").toList.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
    val evalGrams = eval.flatMap(grams(_, 2)).toSet
    val got = Decontaminate
      .containment(
        corpus.toDF("doc_id", "text"),
        eval.zipWithIndex.map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text"),
        "doc_id",
        "text",
        n = 2,
      )
      .select(col("doc_id"), col("n_grams"), col("n_hits"), col("containment"))
      .as[(Long, Long, Long, Double)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4)))
      .toMap
    corpus.foreach { case (id, text) =>
      val g = grams(text, 2)
      val hits = g.intersect(evalGrams).size
      val want = (g.size.toLong, hits.toLong, if (g.isEmpty) 0.0 else hits.toDouble / g.size)
      assert(got(id) == want, s"id=$id text='$text'")
    }
  }

  test("stratifiedHashSample matches an independent JVM md5 model") {
    import graft.operators.Quality
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val rows = docs.select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val want = rows.collect {
      case (id, lang, text)
          if modelHash("strat:" + text) % 10000L < (if (lang == "en") 2000L else 5000L) =>
        id
    }.toSet
    val got = Quality
      .stratifiedHashSample(docs, col("text"), col("lang"), Map("en" -> 0.2), defaultRate = 0.5)
      .select("doc_id")
      .as[Long]
      .collect()
      .toSet
    assert(got == want, s"spark-only=${(got -- want).take(5)} model-only=${(want -- got).take(5)}")
  }

  test("clusterSplit: NO near-dup pair straddles train/val/test on the real corpus") {
    import graft.operators.{Curate, Dedup}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "source", threshold = 0.8)
    val split = Curate.clusterSplit(docs, "doc_id", "text", pairs)
    // leakage check: both endpoints of every candidate pair share a split
    val leaked = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(leaked == 0L, s"$leaked near-dup pairs straddle splits")
    // total function: every doc appears exactly once
    assert(split.count() == docs.count() && split.select("doc_id").distinct().count() == docs.count())
  }

  test("balancedSample matches an independent JVM md5 model on the real corpus") {
    import graft.operators.Quality
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val rows = docs.select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val minCnt = counts.values.min
    val want = rows.collect {
      case (id, lang, text) if modelHash("bal:" + text) % 10000L < minCnt * 10000L / counts(lang) => id
    }.toSet
    val got = Quality
      .balancedSample(docs, col("text"), col("lang"))
      .select("doc_id")
      .as[Long]
      .collect()
      .toSet
    assert(got == want, s"spark-only=${(got -- want).take(5)} model-only=${(want -- got).take(5)}")
  }

  test("epochMaterialize matches an independent JVM model (weights, fractions, cap)") {
    import graft.operators.Mixture
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val rows = docs.select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def nToks(text: String): Long = text.trim.split("\\s+").length.toLong
    val srcTok = rows.groupBy(_._2).view.mapValues(_.map(r => nToks(r._3)).sum).toMap
    val maxTok = srcTok.values.max
    val want = rows.map { case (id, src, text) =>
      val wBp = math.min(maxTok * 10000L / srcTok(src), 30000L)
      val extra = if (modelHash("ep:" + text) % 10000L < wBp % 10000L) 1L else 0L
      id -> (wBp / 10000L + extra)
    }.toMap
    val got = Mixture
      .epochMaterialize(docs, "doc_id", "text", "source")
      .groupBy("doc_id")
      .count()
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got == want, s"diff=${(got.toSet -- want.toSet).take(5)}")
  }

  test("R2/J2: Combine matches a Map-based reference implementation") {
    val keyGen = Gen.oneOf("a", "b", "c", "d")
    val tableGen = Gen.mapOf(Gen.zip(keyGen, Gen.choose(0, 50))).map(_.toList)
    forAll(tableGen, tableGen, tableGen) { (conf, dth, rec) =>
      whenever(conf.nonEmpty) {
        val dates = Seq("1/22/20", "1/23/20")
        def widen(rows: List[(String, Int)]) =
          rows.map { case (k, v) => (k, "", v.toString, (v * 2).toString) }
            .toDF("Country/Region", "Province/State", dates(0), dates(1))
        val got = Combine
          .combine(widen(conf), "confirmed", Seq("deaths" -> widen(dth), "recovered" -> widen(rec)),
            Seq("Country/Region", "Province/State"))
          .select($"`Country/Region`", $"time_series")
          .collect()
          .map { r =>
            val ts = r.getSeq[org.apache.spark.sql.Row](1)
            r.getString(0) -> ts.map(e => (e.getString(0), e.getInt(1), e.getInt(2), e.getInt(3)))
          }
          .toMap
        val dthM = dth.toMap
        val recM = rec.toMap
        conf.foreach { case (k, v) =>
          val ts = got(k)
          assert(ts.map(_._2) == Seq(v, v * 2), s"confirmed for $k")
          assert(ts.map(_._3) == Seq(dthM.getOrElse(k, 0), dthM.get(k).map(_ * 2).getOrElse(0)), s"deaths for $k")
          assert(ts.map(_._4) == Seq(recM.getOrElse(k, 0), recM.get(k).map(_ * 2).getOrElse(0)), s"recovered for $k")
          assert(ts.map(_._1) == dates.map(Normalize.normalizeDateName))
        }
      }
    }
  }

  test("sessionizeExact ≡ batch sessionization under RANDOM microbatch splits") {
    // q66 proves exactness under ONE adversarial arrival order; this proves
    // the order-independence claim in general: random event sets, randomly
    // permuted and split into random microbatches, must always equal the
    // Scala batch model (split where gap is STRICTLY greater than 30 min —
    // the pinned boundary semantics).
    import graft.streaming.EventStream
    import graft.streaming.EventStream.{Event, Session}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 30L * 60 * 1000000
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime // ms
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // ~50 events over 3 users across a day: plenty of >gap, ==gap-ish,
      // and sub-gap deltas at minute granularity
      val events = (1 to 50).map { i =>
        Event(i.toLong, new java.sql.Timestamp(base + rnd.nextInt(24 * 60) * 60000L), rnd.nextInt(3) + 1L, "view", rnd.nextInt(10) + 0.5)
      }
      val expected = events
        .groupBy(_.user_id)
        .flatMap { case (uid, es) =>
          val sorted = es.sortBy(_.ts.getTime)
          val frags = sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
            if ((e.ts.getTime - acc.last.last.ts.getTime) * 1000 > gapUs) acc :+ Vector(e)
            else acc.init :+ (acc.last :+ e)
          }
          frags.map(f => (uid, f.head.ts, f.last.ts, f.size.toLong, f.map(_.value).sum))
        }
        .toSet
      val input = MemoryStream[Event]
      val query = EventStream
        // 2000 min > the 1440-min event span, so no event is ever late no
        // matter the arrival order; the +10-day sentinel still flushes all
        .sessionizeExact(input.toDS(), gapMinutes = 30, watermarkMinutes = Some(2000))
        .writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName(s"graft_sessions_prop_$trial")
        .start()
      // random permutation, random batch boundaries
      val shuffled = rnd.shuffle(events)
      var rest = shuffled
      while (rest.nonEmpty) {
        val k = rnd.nextInt(rest.size) + 1
        input.addData(rest.take(k): _*)
        query.processAllAvailable()
        rest = rest.drop(k)
      }
      // sentinel far past every session's end+gap: advances the watermark
      // so every real session flushes
      input.addData(Event(9999, new java.sql.Timestamp(base + 10L * 24 * 3600 * 1000), 99L, "view", 0.0))
      query.processAllAvailable()
      val got = spark
        .table(s"graft_sessions_prop_$trial")
        .as[Session]
        .collect()
        .toSeq
        .filter(_.user_id != 99L)
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.total_value))
        .toSet
      query.stop()
      assert(got == expected, s"trial $trial: stream ${got.size} sessions vs batch ${expected.size}")
    }
  }

  test("containmentPairs dominates jaccardPairs on random corpora (C ≥ J pointwise)") {
    // |A∩B|/min ≥ |A∩B|/|A∪B|, so every Jaccard pair must appear among the
    // containment pairs at the same threshold — on ANY corpus.
    import graft.operators.Dedup
    val docGen = Gen.listOfN(6, Gen.choose(1, 8)).map(_.map(i => s"w$i").mkString(" "))
    forAll(Gen.listOfN(8, docGen), 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "b") }.toDF("doc_id", "text", "source")
      val jac = Dedup
        .jaccardPairs(docs, "doc_id", "text", "source", threshold = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val cont = Dedup
        .containmentPairs(docs, "doc_id", "text", "source", threshold = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(jac.subsetOf(cont), s"jaccard-only pairs: ${jac.diff(cont)} on $texts")
    }
  }

  test("triangleCounts: degree-ordered orientation matches brute force on random graphs") {
    import graft.operators.Graph
    def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val es = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.filter(p => p._1 != p._2).distinct.toSet
      val ns = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      for {
        a <- ns; b <- ns if a < b && es((a, b))
        c <- ns if b < c && es((b, c)) && es((a, c))
      } Seq(a, b, c).foreach(n => counts(n) = counts.getOrElse(n, 0L) + 1L)
      counts.toMap
    }
    val edgeGen = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    forAll(edgeGen, 6) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val got = Graph
          .triangleCounts(edges.toDF("src", "dst"), "src", "dst")
          .collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
        assert(got == brute(edges), s"edges=$edges")
      }
    }
  }

  test("survivalCurve: survivors are non-increasing in lifetime and anchor at the user count") {
    import graft.operators.EventAnalytics
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val ev = (1 to 400).map { i =>
      val u = rnd.nextInt(60).toLong
      (u, new java.sql.Timestamp(rnd.nextInt(20) * 86400000L + rnd.nextInt(1000)))
    }.toDF("user_id", "ts")
    val rows = EventAnalytics.survivalCurve(ev, "user_id", "ts")
      .orderBy("lifetime_days").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nUsers = ev.select(col("user_id")).distinct().count()
    assert(rows.head._3 == nUsers) // smallest lifetime row sees every user surviving >= it? no: head is min day
    // survivors strictly follow the histogram suffix sums and never increase.
    assert(rows.map(_._3).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    assert(rows.map(_._2).sum == nUsers)
    // the minimum-lifetime row's survivors count equals the total user count
    assert(rows.head._3 == rows.map(_._2).sum)
  }

  test("madOutliers: invariant under row order and group-preserving shuffles") {
    import graft.operators.EventAnalytics
    val rnd = new scala.util.Random(11)
    val data = (1 to 300).map(_ => (s"g${rnd.nextInt(4)}", rnd.nextGaussian() * 10 + rnd.nextInt(3) * 100))
    val a = EventAnalytics.madOutliers(data.toDF("grp", "v"), "grp", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val b = EventAnalytics.madOutliers(scala.util.Random.shuffle(data).toDF("grp", "v").repartition(7), "grp", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(a == b)
  }

  test("randomProjection: additive in the quantized domain (JL linearity)") {
    import graft.operators.Similarity
    // p(v) for the one-hot sum equals the sum of one-hot projections:
    // integer exactness means linearity holds EXACTLY, not approximately.
    val dim = 8
    val oneHots = (0 until dim).map(j => (j.toLong, Seq.tabulate(dim)(i => if (i == j) 1f else 0f)))
    val full = (99L, Seq.fill(dim)(1f))
    val df = (oneHots :+ full).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(df, "vec_id", "embedding", dim, 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(i => r.getLong(i)).toSeq).toMap
    val summed = (0 until dim).map(j => out(j.toLong)).transpose.map(_.sum)
    assert(out(99L) == summed)
  }

  /** The explode-based covariance plan that
    * [[graft.operators.Similarity.covarianceMatrix]]'s Gram aggregator
    * replaced, kept here as its equivalence reference (the tests below
    * prove cell-for-cell identity, including the IEEE expression order).
    * It materializes dim·(dim+1)/2 struct rows per input row, the
    * constant factor the aggregator removes.
    */
  private def covarianceMatrixExploded(df: org.apache.spark.sql.DataFrame, vecCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    require(dim >= 1, s"covarianceMatrix: bad dim $dim")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def dsum38(c: Column) = sum(c.cast(d38)).cast("double")
    val q = df.select(
      transform(col(vecCol), v => floor(v.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")).as("__q")
    )
    val pairsArr = flatten(
      transform(
        sequence(lit(0), lit(dim - 1)),
        i =>
          transform(
            sequence(i, lit(dim - 1)),
            j =>
              struct(
                i.cast("int").as("i"),
                j.cast("int").as("j"),
                element_at(col("__q"), i + 1).as("qi"),
                element_at(col("__q"), j + 1).as("qj"),
              ),
          ),
      )
    )
    q.select(explode(pairsArr).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.qi").as("__qi"), col("p.qj").as("__qj"))
      .groupBy(col("i"), col("j"))
      .agg(
        count(lit(1)).as("n"),
        dsum38(col("__qi")).as("__sx"),
        dsum38(col("__qj")).as("__sy"),
        dsum38(col("__qi") * col("__qj")).as("__sxy"),
      )
      .withColumn("__nd", col("n").cast("double"))
      .select(
        col("i"),
        col("j"),
        col("n"),
        (((col("__nd") * col("__sxy") - col("__sx") * col("__sy")) / (col("__nd") * col("__nd"))) / lit(1.0e12))
          .as("cov"),
      )
  }

  test("covarianceMatrix: Gram aggregator is cell-for-cell identical to the explode plan") {
    import graft.operators.Similarity
    val vecGen: Gen[Seq[Float]] = Gen.listOfN(5, Gen.choose(-2.0f, 2.0f)).map(_.toSeq)
    val corpusGen: Gen[List[Seq[Float]]] = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, vecGen))
    forAll(corpusGen, 12) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
        .repartition(3) // force a real partial-merge path through the buffer
      def key(r: org.apache.spark.sql.Row) = (r.getInt(0), r.getInt(1))
      val got = Similarity.covarianceMatrix(df, "embedding", 5).collect()
        .map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
      val want = covarianceMatrixExploded(df, "embedding", 5).collect()
        .map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got.keySet == want.keySet)
      // exact bit equality, not tolerance: same sums, same IEEE order
      want.foreach { case (k, (n, cov)) =>
        assert(got(k)._1 == n && java.lang.Double.doubleToLongBits(got(k)._2) ==
          java.lang.Double.doubleToLongBits(cov), s"cell $k: got ${got(k)}, want ($n, $cov)")
      }
    }
  }

  test("covarianceMatrix: ragged and null-element vectors fail loudly, null vectors are skipped") {
    import graft.operators.Similarity
    // a short vector would silently skew n / truncate cells in the Gram
    // buffer (the explode plan instead null-skipped) — the guard must name
    // the contract instead of diverging from the oracle
    val ragged = Seq((0L, Seq(1f, 2f, 3f)), (1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception](Similarity.covarianceMatrix(ragged, "embedding", 3).collect())
    assert(e1.getMessage != null && e1.getMessage.contains("length-3"))
    val withNullElem = Seq((0L, Seq[java.lang.Float](1f, 2f)), (1L, Seq[java.lang.Float](1f, null)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception](Similarity.covarianceMatrix(withNullElem, "embedding", 2).collect())
    assert(e2.getMessage != null && e2.getMessage.contains("no null elements"))
    // whole-null vectors keep the explode plan's behavior: dropped, not fatal
    val withNullVec = Seq((0L, Seq(1f, 2f)), (1L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val cells = Similarity.covarianceMatrix(withNullVec, "embedding", 2).collect()
    assert(cells.nonEmpty && cells.forall(_.getLong(2) == 1L))
  }

  test("GramMatrixAggregator: 128-bit accumulators survive products beyond long range") {
    import graft.operators.Similarity
    // values of ~3e3 quantize to ~3e9; one product is ~9e18 (at the long
    // edge), and 40 rows of them overflow any 64-bit Σxy — the 128-bit
    // path must agree with the DECIMAL(38,0) explode plan exactly.
    val big = Seq.fill(40)((1L, Seq(3000.0f, -3000.0f)))
    val df = big.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      .repartition(4)
    val got = Similarity.covarianceMatrix(df, "embedding", 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val want = covarianceMatrixExploded(df, "embedding", 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(got.size == 3)
    want.foreach { case (k, cov) =>
      assert(java.lang.Double.doubleToLongBits(got(k)) == java.lang.Double.doubleToLongBits(cov))
    }
  }
}
