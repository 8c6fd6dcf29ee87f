package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.ColumnOps

/** SURVEY.md §6 — property-based algebraic laws. ScalaCheck generators
  * driven with fixed seeds (the scalatest/scalacheck bridge artifact isn't in
  * the offline cache, so sampling is explicit and deterministic). */
class PropertySpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("an output sort returns the same row sequence as one partition and as a range sort") {
    import spark.implicits._
    // nullable keys over small domains (many ties) plus a unique id, so
    // every ordering below is total and fixes one row sequence
    val frameGen = Gen.chooseNum(0, 80).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.option(Gen.chooseNum(-3, 3)), Gen.option(Gen.oneOf("a", "b", "c")))))
      .map(_.zipWithIndex.map { case ((k1, k2), i) => (k1, k2, i.toLong) })
    val orders = Seq(
      Seq(col("k1"), col("k2"), col("id")),
      Seq(col("k1").desc, col("id")),
      Seq(col("k2").asc_nulls_last, col("k1").desc_nulls_first, col("id").desc),
      Seq(col("k1").asc_nulls_first, col("k2").desc_nulls_last, col("id")))
    // rows, and the final plan once AQE has run
    def exec(df: org.apache.spark.sql.DataFrame): (Seq[Row], String) = {
      val rs = df.collect().toSeq
      (rs, df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      })
    }
    def both(q: => org.apache.spark.sql.DataFrame): Unit = {
      val (small, smallPlan) = exec(q)
      val (large, largePlan) = withConf(largeSorts)(exec(q))
      assert(small == large)
      // a frame of at most one row needs no sort at all
      if (small.size > 1) assert(!smallPlan.contains("rangepartitioning") &&
        largePlan.contains("rangepartitioning"), s"$smallPlan\n$largePlan")
    }
    samples(Gen.zip(frameGen, frameGen), 8).foreach { case (xs, ys) =>
      val df = xs.toDF("k1", "k2", "id").repartition(3)
      orders.foreach(o => both(df.orderBy(o: _*)))
      // a grouped aggregate over a join, ordered by its group key
      val dim = ys.map { case (k1, _, id) => (k1, id) }.toDF("fk", "w")
      both(df.join(dim, col("k1") === col("fk"))
        .groupBy("k2").agg(count(lit(1)).as("n"), sum("w").as("w"))
        .orderBy(col("k2").desc_nulls_first))
    }
  }

  test("the field-path editor: rename and back is the identity, drop and widen touch only their field, bad paths refuse") {
    import org.apache.spark.sql.types._
    import graft.sources.CommitLog.{AddField, DropField, RenameTo, RetypeTo, editPath}
    // nested schemas up to three levels: int, float and string leaves,
    // struct children; fields f0..f3 per struct
    def structGen(depth: Int): Gen[StructType] =
      Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n,
        if (depth >= 3) Gen.oneOf(IntegerType, FloatType, StringType)
        else Gen.frequency(3 -> Gen.oneOf(IntegerType, FloatType, StringType),
          2 -> Gen.lzy(structGen(depth + 1)))))
        .map(ts => StructType(ts.zipWithIndex.map { case (t, i) =>
          StructField(s"f$i", t) }))
    def paths(st: StructType): Seq[Seq[String]] = st.fields.toSeq.flatMap { f =>
      Seq(f.name) +: (f.dataType match {
        case s: StructType => paths(s).map(f.name +: _)
        case _ => Nil
      })
    }
    def typeAt(st: StructType, p: Seq[String]): DataType =
      p.tail.foldLeft(st(p.head).dataType) {
        case (s: StructType, seg) => s(seg).dataType
        case (t, _) => t
      }
    def refuses(body: => Any): Unit = intercept[IllegalArgumentException](body)
    samples(structGen(1), 40).foreach { st =>
      paths(st).foreach { p =>
        val renamed = editPath(st, p, RenameTo("renamed"))
        assert(paths(renamed).contains(p.init :+ "renamed"))
        assert(editPath(renamed, p.init :+ "renamed", RenameTo(p.last)) == st)
        val siblings = if (p.size == 1) st else typeAt(st, p.init)
        if (siblings.asInstanceOf[StructType].length > 1)
          assert(paths(editPath(st, p, DropField)) ==
            paths(st).filterNot(_.startsWith(p)))
        else refuses(editPath(st, p, DropField))
        val wider = typeAt(st, p) match {
          case IntegerType => Some(LongType)
          case FloatType => Some(DoubleType)
          case _ => None
        }
        wider match {
          case Some(w) =>
            val widened = editPath(st, p, RetypeTo(w))
            assert(paths(widened) == paths(st))
            paths(st).filterNot(q => typeAt(st, q).isInstanceOf[StructType])
              .foreach(q => assert(typeAt(widened, q) ==
                (if (q == p) w else typeAt(st, q))))
          case None => refuses(editPath(st, p, RetypeTo(BinaryType)))
        }
        refuses(editPath(st, p.init :+ "missing", DropField))
        refuses(editPath(st, p, RenameTo(p.last.toUpperCase)))
        typeAt(st, p) match {
          case _: StructType =>
            assert(paths(editPath(st, p, AddField(StructField("added", LongType))))
              .contains(p :+ "added"))
          case _ =>
            refuses(editPath(st, p :+ "x", DropField))
            refuses(editPath(st, p, AddField(StructField("x", LongType))))
        }
      }
    }
  }

  test("filter commutes with projection on disjoint columns") {
    import spark.implicits._
    samples(Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 50L), Gen.alphaStr.map(_.take(5)))), 8)
      .foreach { xs =>
        val df = xs.toDF("k", "s")
        val a = df.filter($"k" > 25).select("s").collect().map(_.getString(0)).sorted.toSeq
        val b = df.select("s", "k").filter($"k" > 25).select("s")
          .collect().map(_.getString(0)).sorted.toSeq
        assert(a == b)
      }
  }

  test("union.distinct is idempotent") {
    import spark.implicits._
    samples(Gen.listOfN(20, Gen.chooseNum(0L, 10L)), 8).foreach { xs =>
      val df = xs.toDF("k")
      val once = df.union(df).distinct()
      val twice = once.union(once).distinct()
      assert(once.collect().map(_.getLong(0)).sorted.toSeq ==
        twice.collect().map(_.getLong(0)).sorted.toSeq)
    }
  }

  test("hotKeys returns at most n-1 keys, each truly above 1/n of rows") {
    import spark.implicits._
    // zipf-ish generator: small key ids drawn much more often
    val keyGen = Gen.frequency(6 -> Gen.const(1L), 3 -> Gen.const(2L),
      2 -> Gen.chooseNum(3L, 6L), 1 -> Gen.chooseNum(7L, 40L))
    samples(Gen.listOfN(120, keyGen), 6).foreach { xs =>
      val df = xs.toDF("k")
      for (n <- Seq(3, 10, 50)) {
        val hot = graft.functions.SkewOps.hotKeys(df, "k", n)
          .collect().map(_.getLong(0)).toSet
        assert(hot.size <= n - 1,
          s"more than n-1 keys cannot each exceed 1/$n of rows: $hot")
        val counts = xs.groupBy(identity).view.mapValues(_.size).toMap
        hot.foreach(k => assert(counts(k) > xs.size / n,
          s"key $k returned as hot but carries ${counts(k)}/${xs.size} rows at n=$n"))
        counts.foreach { case (k, c) =>
          if (c > xs.size.toDouble / n)
            assert(hot.contains(k), s"key $k above 1/$n missing from hot set")
        }
      }
    }
  }

  test("native rolling_fingerprint equals the HOF formulation on arbitrary BMP strings") {
    import spark.implicits._
    // printable ASCII plus Latin-1 and a few CJK chars: exercises the
    // charAt == ascii(substring) equivalence claim beyond the ASCII corpus
    val charGen = Gen.frequency(
      8 -> Gen.choose(32.toChar, 126.toChar),
      2 -> Gen.choose(160.toChar, 255.toChar),
      1 -> Gen.oneOf('世', '界', 'é', '€'))
    val strGen = Gen.chooseNum(1, 200)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    samples(Gen.listOfN(25, strGen), 8).foreach { xs =>
      val df = xs.toDF("text")
      val diffs = df.select(
        expr("rolling_fingerprint(text)").as("native"),
        graft.operators.TextAnalysis.fingerprintHof.as("hof"))
        .filter(!(col("native") <=> col("hof"))).count()
      assert(diffs == 0, s"native != HOF on some of: ${xs.take(3)}")
    }
  }

  test("cosine(v, v) == 1 for any non-zero vector") {
    import spark.implicits._
    samples(Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 10.0))
      .suchThat(v => v.exists(_ != 0.0)), 10)
      .foreach { v =>
        val df = Seq(Tuple1(v)).toDF("v")
        val c = df.select(ColumnOps.cosine(col("v"), col("v"))).head().getDouble(0)
        assert(math.abs(c - 1.0) <= 1e-6, s"cosine($v, $v) = $c")
      }
  }

  test("exact-decimal sum is partitioning-invariant") {
    import spark.implicits._
    samples(Gen.listOfN(50, Gen.chooseNum(-99999, 99999).map(_ / 100.0)), 6)
      .foreach { xs =>
        val r1 = xs.toDF("x").repartition(1)
          .agg(ColumnOps.sumExact2(col("x"))).head().getDouble(0)
        val r7 = xs.toDF("x").repartition(7)
          .agg(ColumnOps.sumExact2(col("x"))).head().getDouble(0)
        assert(r1 == r7, "decimal sums must not depend on partition layout")
      }
  }

  test("sessionization is invariant to input order") {
    import spark.implicits._
    samples(Gen.listOfN(12, Gen.chooseNum(0L, 7200L)), 5).foreach { ts =>
      val mk = (order: List[Long]) => {
        val df = order.zipWithIndex
          .map { case (t, i) =>
            (i.toLong, new java.sql.Timestamp(1700000000000L + t * 1000), 1L, "view", 1.0, "{}")
          }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        graft.streaming.EventWindows.sessionAgg(df)
          .orderBy("sess_start").collect()
          .map(r => (r.get(1).toString, r.getLong(2))).toSeq
      }
      val shuffled = new scala.util.Random(7).shuffle(ts)
      assert(mk(ts) == mk(shuffled))
    }
  }

  test("dedup is a fixpoint: deduping a deduped frame changes nothing") {
    import spark.implicits._
    samples(Gen.listOfN(20, Gen.oneOf("a b c", "d e f", "g h i")), 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lower(trim(col("text")))).orderBy("doc_id")
      val d1 = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      val d2 = d1.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      assert(d1.count() == d2.count())
    }
  }

  test("decimal sums widen to precision+10 and stay exact at adversarial magnitudes") {
    import org.apache.spark.sql.types.DecimalType
    // Spark widens sum(DECIMAL(p,s)) to DECIMAL(p+10,s): 10^10 rows of
    // max-magnitude values fit before overflow. 10^6 rows at the DECIMAL(18,2)
    // maximum needs 24 integral digits — past double (2^53) and past the
    // input precision, so this fails if widening ever regresses.
    val maxV = "9999999999999999.99"
    val df = spark.range(1000000L)
      .select(lit(maxV).cast(DecimalType(18, 2)).as("x"))
    val agg = df.agg(sum(col("x")).as("s"))
    assert(agg.schema("s").dataType == DecimalType(28, 2),
      s"sum must widen to DECIMAL(28,2), got ${agg.schema("s").dataType}")
    val expected = new java.math.BigDecimal(maxV)
      .multiply(new java.math.BigDecimal(1000000L))
    assert(agg.head().getDecimal(0).compareTo(expected) == 0,
      "widened decimal sum must be exact (no overflow, no rounding)")
    // and it stays partition-invariant at this magnitude
    val r7 = df.repartition(7).agg(sum(col("x"))).head().getDecimal(0)
    assert(r7.compareTo(expected) == 0)
  }

  test("salt assignment is deterministic across re-evaluation") {
    import spark.implicits._
    // xxhash64-based salt (SkewOps): same input row -> same salt, every run.
    val df = samples(Gen.listOfN(40, Gen.zip(Gen.oneOf("A", "N", "R"),
      Gen.chooseNum(-9999, 9999).map(_ / 100.0))), 1).head.toDF("k", "v")
    def salts() = df
      .withColumn("s", pmod(xxhash64(col("k"), col("v")), lit(16)))
      .orderBy("k", "v").collect().map(_.getLong(2)).toSeq
    assert(salts() == salts())
    assert(salts().distinct.size > 1, "salt must actually spread rows")
  }

  test("percentile_approx error is bounded and shrinks with sketch accuracy") {
    // The KLL-style sketch behind percentile_approx is the mergeable
    // bounded-memory path for quantiles at 100 TB (exact percentile sorts
    // each group). Contract: rank error <= 1/accuracy. Verified against the
    // exact percentile as rank distance, for accuracy 20 vs 10000.
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, sf).select(col("l_extendedprice").as("x"))
    val n = df.count().toDouble
    val sorted = df.orderBy("x").collect().map(_.getDouble(0))
    def rankOf(v: Double): Double = sorted.count(_ <= v) / n
    val errs = Seq(20, 10000).map { acc =>
      val approx = df.agg(percentile_approx(col("x"), lit(0.5), lit(acc)))
        .head().getDouble(0)
      math.abs(rankOf(approx) - 0.5)
    }
    assert(errs.head <= 1.0 / 20 + 0.01, s"rank error beyond guarantee: $errs")
    assert(errs.last <= 1.0 / 10000 + 1.0 / n, s"high-accuracy sketch off: $errs")
    assert(errs.last <= errs.head, s"error must not grow with accuracy: $errs")
  }

  test("hot-shingle df cap bounds exact-Jaccard pair generation") {
    import spark.implicits._
    // one boilerplate shingle shared by 1000 docs (would emit 499,500
    // pairs), one unique shingle per doc, one legit small group of 3
    val sh = ((0L until 1000L).map(d => (d, "HOT")) ++
      (0L until 1000L).map(d => (d, s"u$d")) ++
      (0L until 3L).map(d => (d, "G"))).toDF("doc_id", "sh")
    val capped = graft.operators.Dedup.jaccardPairs(sh, 0.0, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"only the df=3 group may pair once the hot shingle is capped: $capped")
    // the default cap is inert when every df is below it
    val legit = sh.filter(col("sh") =!= "HOT")
    val a = graft.operators.Dedup.jaccardPairs(legit, 0.0)
      .collect().map(_.toSeq).toSet
    val b = graft.operators.Dedup.jaccardPairs(legit, 0.0, maxDf = Int.MaxValue)
      .collect().map(_.toSeq).toSet
    assert(a == b, "default maxDf must not change sub-cap results")
  }

  test("df cap removes hot shingles from BOTH sets: surviving pairs' Jaccard unbiased") {
    import spark.implicits._
    // docs 0 and 1 share a hot shingle (df=1000) AND a legit shingle G;
    // each also carries one unique shingle. Stop-shingle policy: the hot
    // shingle leaves both sets, so J = |{G}| / |{u0,G} ∪ {u1,G}| = 1/3.
    // Capping only the pair side (round 5) would count it in the union and
    // report 1/5 — the downward bias ADVICE r5 flagged.
    val sh = ((0L until 1000L).map(d => (d, "HOT")) ++
      Seq((0L, "u0"), (1L, "u1"), (0L, "G"), (1L, "G"))).toDF("doc_id", "sh")
    val out = graft.operators.Dedup.jaccardPairs(sh, 0.0, maxDf = 100)
      .filter(col("da") === 0L && col("db") === 1L).collect()
    assert(out.length == 1, "the (0,1) pair must survive via shingle G")
    assert(math.abs(out.head.getDouble(2) - 1.0 / 3) < 1e-6,
      s"hot shingle must leave BOTH sets, got J=${out.head.getDouble(2)}")
  }

  test("minhash pipeline: >maxBucket exact duplicates survive via the collapse pre-pass") {
    import spark.implicits._
    // 1200 byte-identical docs: without the exact-dup collapse they form
    // one >maxBucket LSH bucket per band and emit ZERO pairs (ADVICE r5);
    // with it they collapse to one signature row and every pair comes back
    // through the within-group expansion at J = 1.
    val n = 1200
    val docs = (0 until n)
      .map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.minhashNearDupPairs(docs)
    assert(out.count() == n.toLong * (n - 1) / 2,
      "every exact-dup pair must be emitted")
    assert(out.filter(col("jaccard") =!= 1.0).count() == 0,
      "exact duplicates carry Jaccard exactly 1")
  }

  test("weighted df cap: collapse can't resurrect shingles the ground truth caps out") {
    import spark.implicits._
    // Two near-dup texts (J = 9/11 ≈ 0.82 uncapped), 8 byte-identical
    // copies each. Shared shingles live in 16 docs > maxDf=10, so the
    // UNCOLLAPSED ground truth caps them out and no cross-text pair exists;
    // each text's unique last shingle (df 8) survives, so within-copy
    // identity pairs remain at J = 1. A rep-level (unweighted) df of 2
    // would resurrect the shared shingles after the exact-dup collapse and
    // emit the 64 cross pairs at 0.82 — the ADVICE r6 divergence.
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wA"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wB"
    val docs = ((0L until 8L).map(i => (i, a)) ++
      (100L until 108L).map(i => (i, b))).toDF("doc_id", "text")
    val truth = graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingles(docs), 0.8, maxDf = 10)
      .collect().map(_.toSeq).toSet
    val found = graft.operators.Dedup.minhashNearDupPairs(docs, maxDf = 10)
      .collect().map(_.toSeq).toSet
    assert(truth.size == 2 * (8 * 7 / 2), s"truth must be the within pairs only")
    assert(!truth.exists(r => r(2) != 1.0), "surviving pairs are identity pairs")
    assert(found == truth,
      s"minhash pipeline must match the capped ground truth exactly; " +
        s"extra=${(found -- truth).take(3)} missing=${(truth -- found).take(3)}")
  }

  test("hot-bucket cap bounds LSH candidate generation") {
    import spark.implicits._
    // 500 docs with identical signatures (one mega-bucket per band) plus a
    // legit group of 3; k=16 minhashes = 4 bands × 4 rows
    val rows = (0L until 500L).map(d => d -> 1L) ++
      (1000L until 1003L).map(d => d -> 2L)
    val sig = rows.map { case (d, g) => (d, Seq.fill(16)(g)) }
      .map { case (d, ms) => Row.fromSeq(d +: ms) }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType) +:
        (0 until 16).map(i => org.apache.spark.sql.types.StructField(
          s"m$i", org.apache.spark.sql.types.LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sig), schema)
    val capped = graft.operators.Dedup.lshCandidates(df, 4, 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1000L, 1001L), (1000L, 1002L), (1001L, 1002L)),
      s"mega-bucket must be dropped before pair generation: $capped")
    val uncapped = graft.operators.Dedup.lshCandidates(df, 4, 4).count()
    assert(uncapped == 500L * 499 / 2 + 3,
      "default cap (1000) keeps the 500-doc bucket: all its pairs emit")
  }

  test("blocked fuzzy join equals the unblocked nested loop on a mixed-length vocabulary") {
    import spark.implicits._
    // corpus vocabulary + adversarial shorts: strings shorter than k+1
    // exercise the empty-segment path of the PassJoin signature scheme
    val words = (rows(Tables.documents(spark, sf)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .distinct().orderBy("w").limit(400))
      .map(_.head.asInstanceOf[String]) ++
      Seq("a", "ab", "abc", "b", "xy", "xyz", "ax", "bx")).distinct
    for (k <- Seq(1, 3)) {
      val a = words.toDF("wa")
      val b = words.toDF("wb")
      val blocked = rows(graft.operators.Joins
        .fuzzyJoinBlocked(a, "wa", b, "wb", k)
        .filter(col("wa") < col("wb")).orderBy("wa", "wb"))
      val brute = rows(a.crossJoin(b)
        .filter(col("wa") < col("wb") &&
          levenshtein(col("wa"), col("wb")) <= k)
        .select(col("wa"), col("wb"),
          levenshtein(col("wa"), col("wb")).as("dist"))
        .orderBy("wa", "wb"))
      assert(brute.nonEmpty, s"fixture must contain close pairs at k=$k")
      assert(blocked == brute,
        s"PassJoin blocking must be complete at k=$k: " +
          s"missing=${(brute.toSet -- blocked.toSet).take(3)} " +
          s"extra=${(blocked.toSet -- brute.toSet).take(3)}")
    }
  }

  test("blocked embed dedup at full probe equals brute-force all-pairs on arbitrary corpora") {
    import spark.implicits._
    import graft.operators.Similarity
    // components drawn from a nonzero set: no zero-norm vectors, but
    // duplicate vectors (cosine exactly 1.0, ordering ties) are likely
    val vecGen = Gen.listOfN(4, Gen.oneOf(-2.0, -1.0, -0.5, 0.5, 1.0, 2.0))
    val cases = Seq((6, 2, 0), (17, 3, 1), (40, 5, 2)).map { case (n, k, si) =>
      (samples(Gen.listOfN(n, vecGen), si + 1).last, k)
    } :+ ((List.fill(8)(List(1.0, -0.5, 2.0, 0.5)), 3)) // degenerate: all identical
    cases.foreach { case (vs, k) =>
      val e = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val cents = Similarity.kmeansCentroids(e, k, 2)
      val blocked = rows(Similarity.embedDedupBlocked(
        e, cents, nprobe = cents.size, topn = 1000))
      val a = e.select(col("vec_id").as("da"), col("v").as("va"))
      val b = e.select(col("vec_id").as("db"), col("v").as("vb"))
      val brute = rows(a.crossJoin(b).filter(col("da") < col("db"))
        .select(col("da"), col("db"),
          (round(expr("cosine_similarity(va, vb)"), 6) + lit(0.0)).as("cosine"))
        .orderBy(col("cosine").desc, col("da"), col("db")).limit(1000))
      assert(blocked == brute,
        s"full-probe blocking must be complete (n=${vs.size}, k=$k): " +
          s"missing=${(brute.toSet -- blocked.toSet).take(3)} " +
          s"extra=${(blocked.toSet -- brute.toSet).take(3)}")
    }
  }

  test("substring dup coverage equals brute-force interval union on generated corpora") {
    import spark.implicits._
    val k = 3
    // dense vocab (4 symbols) floods the corpus with colliding, overlapping
    // k-grams — the interval-merge stress case; sparse vocab (26) leaves
    // mostly-unique grams with isolated duplicate islands
    for (vocab <- Seq(Seq("a", "b", "c", "d"), ('a' to 'z').map(_.toString))) {
      val docGen = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      samples(Gen.listOfN(8, docGen), 5).foreach { corpus =>
        val docs = corpus.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
        val got = graft.operators.Curation.substringDupCoverage(docs, k)
          .select("doc_id", "n_toks", "dup_tokens")
          .as[(Long, Int, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        val counts = corpus.flatMap(t => t.sliding(k).filter(_.size == k))
          .groupBy(_.mkString(" ")).view.mapValues(_.size).toMap
        corpus.zipWithIndex.foreach { case (t, i) =>
          val covered = collection.mutable.Set.empty[Int]
          if (t.size >= k)
            t.sliding(k).zipWithIndex.foreach { case (g, p) =>
              if (counts(g.mkString(" ")) > 1) (p until p + k).foreach(covered += _)
            }
          if (covered.nonEmpty)
            assert(got(i.toLong) == (t.size, covered.size.toLong),
              s"doc $i: got ${got.get(i.toLong)}, brute (${t.size}, ${covered.size})")
          else
            // NOTE: the clue is eagerly evaluated — keep it total (.get)
            assert(!got.contains(i.toLong),
              s"doc $i: expected absent (no duplicated grams), got ${got.get(i.toLong)}")
        }
      }
    }
  }

  test("scd2 collapse equals a brute-force fold on generated mutation logs") {
    import spark.implicits._
    // few keys, few statuses, COLLIDING timestamps — the seq tiebreak and
    // change-point logic get no easy cases
    val evGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 9L), Gen.oneOf("O", "F", "P")))
    samples(evGen, 8).foreach { evs =>
      val rowsIn = evs.zipWithIndex.map { case ((k, ts, st), i) => (k, i.toLong, st, ts) }
      val got = graft.operators.DataModel.scd2History(
        rowsIn.toDF("k", "seq", "status", "ts"))
        .select("k", "status", "valid_from", "valid_to")
        .as[(Long, String, Long, Option[Long])].collect().toSeq
      val brute = rowsIn.groupBy(_._1).toSeq.flatMap { case (k, es) =>
        val ordered = es.sortBy(e => (e._4, e._2)) // (ts, seq)
        val changes = ordered.foldLeft(Vector.empty[(String, Long)]) {
          case (acc, (_, _, st, ts)) =>
            if (acc.lastOption.exists(_._1 == st)) acc else acc :+ (st, ts)
        }
        changes.zipWithIndex.map { case ((st, from), i) =>
          (k, st, from, changes.lift(i + 1).map(_._2))
        }
      }
      // same (k, status, valid_from) can recur with different valid_to when
      // statuses flip back at one colliding ts — sort on the full row
      assert(got.sortBy(r => (r._1, r._3, r._2, r._4)) ==
        brute.sortBy(r => (r._1, r._3, r._2, r._4)),
        s"scd2 mismatch: got=${got.take(5)} brute=${brute.take(5)}")
    }
  }

  test("unigram logprob equals a brute-force weighted mean on generated corpora") {
    import spark.implicits._
    val docGen = Gen.chooseNum(1, 20)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")))
    samples(Gen.listOfN(6, docGen), 6).foreach { corpus =>
      val got = graft.operators.Curation.unigramLogprob(
        corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t"))
        .select("doc_id", "n_toks", "avg_logprob")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val counts = corpus.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val total = corpus.map(_.size).sum.toDouble
      corpus.zipWithIndex.foreach { case (t, i) =>
        val brute = t.map(w => math.log(counts(w) / total)).sum / t.size
        val (n, lp) = got(i.toLong)
        assert(n == t.size.toLong, s"doc $i token count: $n vs ${t.size}")
        // query rounds to 6 decimals; float-order drift is ~1e-12
        assert(math.abs(lp - brute) <= 1e-6, s"doc $i: $lp vs brute $brute")
      }
    }
  }

  test("rollup row count = sum of grouping-set cardinalities") {
    val out = rows(graft.operators.Aggregates.queries("q_agg_rollup")(spark, sf))
    val nations = out.count(r => r.head != "ALL" && r(1) != "ALL") // (nation, seg)
    val perNation = out.count(r => r.head != "ALL" && r(1) == "ALL")
    val grand = out.count(r => r.head == "ALL")
    assert(grand == 1)
    assert(out.size == nations + perNation + grand)
  }

  test("psiReport equals a brute-force scala fold on generated count frames") {
    import spark.implicits._
    val gen = Gen.listOfN(12, Gen.zip(
      Gen.oneOf("f1", "f2"), Gen.chooseNum(0, 5).map(i => s"b$i"),
      Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L)))
    // r20 (ADVICE r19): force a ONE-SIDED feature into every sample — f3
    // exists only on the new side — so the drop-the-whole-feature
    // semantics (psiReportCounts filters t_old = 0 / t_new = 0 features;
    // the random generator essentially never produces an all-zero side)
    // is actually exercised: if the engine let f3 through with a 0/0
    // share, `got` would carry rows `want` excludes and the equality
    // below would fail.
    val oneSided = List(("f3", "b0", 0L, 7L), ("f3", "b1", 0L, 3L))
    samples(gen, 6).map(oneSided ++ _).foreach { xs =>
      // collapse duplicate (feature, bucket) rows; drop all-zero buckets
      // on each side independently (a zero count row is "absent")
      val m = xs.groupBy(x => (x._1, x._2))
        .map { case (k, vs) => k -> (vs.map(_._3).sum, vs.map(_._4).sum) }
      val oldRows = m.collect { case ((f, b), (o, _)) if o > 0 => (f, b, o) }.toSeq
      val newRows = m.collect { case ((f, b), (_, n)) if n > 0 => (f, b, n) }.toSeq
      if (oldRows.nonEmpty && newRows.nonEmpty) {
        val got = rows(graft.operators.Pipeline.psiReport(
          oldRows.toDF("feature", "bucket", "n_old"),
          newRows.toDF("feature", "bucket", "n_new"))
          .orderBy("feature", "bucket"))
        // brute force: totals per feature, shares, terms
        val tOld = oldRows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        val tNew = newRows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        val keys = (oldRows.map(r => (r._1, r._2)) ++ newRows.map(r => (r._1, r._2)))
          .distinct
          // buckets only appear for features present on BOTH sides after
          // the engine's inner total joins; mirror that filter
          .filter { case (f, _) => tOld.contains(f) && tNew.contains(f) }
          .sorted
        val want = keys.map { case (f, b) =>
          val o = oldRows.find(r => r._1 == f && r._2 == b).map(_._3).getOrElse(0L)
          val n = newRows.find(r => r._1 == f && r._2 == b).map(_._3).getOrElse(0L)
          val p = o.toDouble / tOld(f); val q = n.toDouble / tNew(f)
          def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Seq[Any](f, b, o, n, r6(p), r6(q),
            if (o > 0 && n > 0) r6((p - q) * math.log(p / q)) else null)
        }
        assert(got == want, s"psi mismatch\ngot  $got\nwant $want")
      }
    }
  }

  test("grid-blocked radius join equals brute force (polar + wraparound adversaries planted)") {
    import spark.implicits._
    import graft.functions.GeoOps
    // pseudo-random global scatter + the placements each blocking rule
    // exists for: a high-latitude pair 2 lon-cells apart (only the polar
    // catch-all finds it), a south-polar wrapped pair, an equatorial
    // ±180° wraparound pair (pmod adjacency), and a cross-polar-boundary
    // pair whose POLAR member has the SMALLER key (found in only one
    // probe direction — exercises the post-join canonicalization).
    val pts = (1 to 300).map { i =>
      val lat = ((i * 7919) % 18000) / 100.0 - 90.0
      val lon = ((i * 104729) % 36000) / 100.0 - 180.0
      (i.toLong, lat, lon)
    } ++ Seq(
      (1001L, 74.0, 14.9), (1002L, 74.0, 31.0),    // Δlon = 2 cells at 74°N
      (1003L, -74.0, -173.0), (1004L, -73.8, 173.0), // south-polar wrap
      (1005L, 0.0, 179.9), (1006L, 0.1, -179.8),   // equator ±180° wrap
      (1009L, 71.2, 3.0), (1010L, 69.9, 0.0),      // polar member, smaller key
      // EXACT boundary values (ADVICE r10): lat = 90.0 floors past the top
      // band and lon = 180.0 past the top cell unless keys are normalized —
      // two north-pole points, a pole-vs-near-pole pair, and an exact-180°
      // meridian pair must all still meet
      (1011L, 90.0, 0.0), (1012L, 90.0, 135.0),    // both exactly at the pole
      (1013L, 89.2, -42.0),                        // near-pole peer of 1011/1012
      (1014L, 0.2, 180.0), (1015L, -0.1, 180.0))   // exact antimeridian pair
    val df = pts.toDF("k", "lat", "lon")
    val blocked = GeoOps.radiusSelfJoinKm(df, 500.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = df.select(col("k").as("da"), col("lat").as("lata"), col("lon").as("lona"))
    val b = df.select(col("k").as("db"), col("lat").as("latb"), col("lon").as("lonb"))
    val brute = a.crossJoin(b).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        round(GeoOps.haversineKm(col("lata"), col("lona"), col("latb"), col("lonb")), 4)
          .as("d"))
      .filter(col("d") <= 500.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked == brute,
      s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    // the adversarial pairs must actually qualify, or the test proves nothing
    for (p <- Seq((1001L, 1002L), (1003L, 1004L), (1005L, 1006L), (1009L, 1010L),
        (1011L, 1012L), (1011L, 1013L), (1014L, 1015L)))
      assert(brute.exists(x => (x._1, x._2) == p), s"planted pair $p not in brute force")
  }

  test("composite-key mergeOn equals its relational specification on arbitrary tuple changesets") {
    import spark.implicits._
    import graft.sources.CommitLog
    // base: random rows over a small (k1, k2) TUPLE space, duplicate
    // tuples allowed (mergeOn must remove every stored copy of a merged
    // tuple — and ONLY that tuple: a single-column-key bug would clobber
    // sibling k2 values under the same k1); changeset: unique tuples
    // mixing updates, deletes, and absent tuples. A second merge then
    // exercises the multiInsertKeys opt-in with duplicate absent-tuple
    // inserts.
    val baseGen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 6L),
      Gen.oneOf("a", "b", "c"), Gen.chooseNum(-9L, 9L)))
    val tupleSpace = for { k1 <- 0L to 7L; k2 <- Seq("a", "b", "c") }
      yield (k1, k2)
    val chGen = Gen.someOf(tupleSpace).flatMap { keys =>
      Gen.sequence[List[(Long, String, Long, Boolean)], (Long, String, Long, Boolean)](
        keys.toList.map { case (k1, k2) =>
          Gen.zip(Gen.const(k1), Gen.const(k2), Gen.chooseNum(-9L, 9L),
            Gen.oneOf(true, false)) })
    }
    samples(Gen.zip(baseGen, chGen), 6).zipWithIndex.foreach {
      case ((base, ch), i) =>
        if (ch.nonEmpty) {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft-mergeonprop$i").toString
          val (b1, b2) = base.splitAt(base.size / 2)
          CommitLog.commit(spark, root, "w", "create") { _ =>
            b1.toDF("k1", "k2", "v")
          }
          CommitLog.commitAppend(spark, root, "w", "append")(
            b2.toDF("k1", "k2", "v"))
          CommitLog.mergeOn(spark, root, "m", Seq("k1", "k2"),
            ch.toDF("k1", "k2", "v", "del"), deleteCol = Some("del"))
          val chKeys = ch.map(c => (c._1, c._2)).toSet
          val expected = (base.filterNot { case (k1, k2, _) => chKeys((k1, k2)) } ++
            ch.collect { case (k1, k2, v, false) => (k1, k2, v) }).sorted
          val got = CommitLog.readLatest(spark, root).get.collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
          assert(got == expected, s"sample $i: mergeOn diverged from spec")
          // multi-insert opt-in: duplicate rows for an ABSENT tuple each
          // land (the SQL multi-insert shape)
          CommitLog.mergeOn(spark, root, "m", Seq("k1", "k2"),
            Seq((9L, "z", 1L, false), (9L, "z", 2L, false))
              .toDF("k1", "k2", "v", "del"), deleteCol = Some("del"),
            multiInsertKeys = true)
          val got2 = CommitLog.readLatest(spark, root).get.collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
          assert(got2 == (expected ++ Seq((9L, "z", 1L), (9L, "z", 2L))).sorted,
            s"sample $i: multi-insert tuples must each land")
        }
    }
  }

  test("commit-log merge equals its relational specification on arbitrary changesets") {
    import spark.implicits._
    import graft.sources.CommitLog
    // base: random rows over a small key space, DUPLICATE table keys
    // allowed (merge must remove every stored copy of a merged key),
    // delivered as create + append so both dir shapes participate;
    // changeset: unique keys mixing updates, deletes, and absent keys
    val baseGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(-50L, 50L)))
    val chGen = Gen.someOf(0L to 25L).flatMap { keys =>
      Gen.sequence[List[(Long, Long, Boolean)], (Long, Long, Boolean)](
        keys.toList.map(k =>
          Gen.zip(Gen.const(k), Gen.chooseNum(-50L, 50L),
            Gen.oneOf(true, false))))
    }
    samples(Gen.zip(baseGen, chGen), 6).zipWithIndex.foreach {
      case ((base, ch), i) =>
        if (ch.nonEmpty) {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft-mergeprop$i").toString
          val (b1, b2) = base.splitAt(base.size / 2)
          CommitLog.commit(spark, root, "w", "create") { _ =>
            b1.toDF("id", "v")
          }
          CommitLog.commitAppend(spark, root, "w", "append")(b2.toDF("id", "v"))
          val mc = CommitLog.merge(spark, root, "m", "id",
            ch.toDF("id", "v", "del"), deleteCol = Some("del"))
          val chKeys = ch.map(_._1).toSet
          val expected = (base.filterNot { case (k, _) => chKeys(k) } ++
            ch.collect { case (k, v, false) => (k, v) }).sorted
          val got = CommitLog.readLatest(spark, root).get.collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
          assert(got == expected, s"sample $i: merge diverged from spec")
          // an all-delete changeset matching NOTHING is a provable no-op
          // (r17): the head is returned unchanged, so there is no feed
          // window to check — the state equality above is the whole spec
          if (mc.version > 2L) {
          // and the change feed folds back to the same state: signed
          // count must net to (|head| − |base|)
          val feedDf = CommitLog.changesSince(spark, root, 2L).get
          val feed = feedDf.collect()
          val net = feed.map(r =>
            if (Set("insert", "update_postimage")(r.getAs[String]("_change_type")))
              1 else -1).sum
          assert(net == expected.size - base.size,
            s"sample $i: CDF signed count must net the cardinality delta")
          // incremental view maintenance from the same feed: a per-group
          // (count, sum) maintained through the merge must equal the
          // direct aggregate over the head (exact long arithmetic)
          val state = base.toDF("id", "v").withColumn("g", col("id") % 3)
            .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("total"))
          val maintained = graft.operators.DataModel.maintainAggFromChanges(
            state, feedDf.withColumn("g", col("id") % 3), "g", "v")
          val direct = CommitLog.readLatest(spark, root).get
            .withColumn("g", col("id") % 3)
            .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("total"))
          assert(rows(maintained.orderBy("g")) == rows(direct.orderBy("g")),
            s"sample $i: maintained aggregate diverged from recomputation")
          }
        }
    }
  }
}
