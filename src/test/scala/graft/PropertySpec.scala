package graft

import graft.functions.TextFunctions
import graft.plans.PorterStem
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests for expression algebra (SURVEY.md §5: the
  * reference has no property tests — this is the planned upgrade).
  * Null/NaN semantics checks run through real Spark plans on generated
  * data; scalar kernels (Porter) are checked as pure functions.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic sampling harness over a scalacheck Gen (the
    * scalatest/scalacheck bridge artifact isn't on the offline
    * classpath, so we drive Gen directly). */
  private def forAll[T](g: Gen[T], n: Int = 25)(f: T => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach { v => f(v); i += 1 }
      seed = seed.next
    }
  }

  private def whenever(b: Boolean)(f: => Unit): Unit = if (b) f

  test("porter stem is idempotent-safe: stemming never grows a word") {
    forAll(Gen.alphaLowerStr.suchThat(_.nonEmpty)) { w =>
      assert(PorterStem.stem(w).length <= w.length)
    }
  }

  test("null-safe equality <=> equals null-aware semantics (NULL_EQUALS)") {
    val gen = Gen.listOfN(24,
      Gen.zip(Gen.option(Gen.choose(-3, 3)), Gen.option(Gen.choose(-3, 3))))
    forAll(gen) { pairs =>
      whenever(pairs.nonEmpty) {
        val df = pairs.map { case (a, b) =>
          (a.map(_.toString).orNull, b.map(_.toString).orNull)
        }.toDF("a", "b")
        val got = df.select(($"a" <=> $"b").as("eq")).as[Boolean].collect()
        val want = pairs.map { case (a, b) => a == b }
        assert(got.toSeq == want)
      }
    }
  }

  test("greatest/least skip nulls (NULL_MAX/NULL_MIN semantics)") {
    val gen = Gen.listOfN(16,
      Gen.zip(Gen.option(Gen.choose(-100, 100)), Gen.option(Gen.choose(-100, 100))))
    forAll(gen) { pairs =>
      whenever(pairs.nonEmpty) {
        val df = pairs.map { case (a, b) =>
          (a.map(Integer.valueOf).orNull, b.map(Integer.valueOf).orNull)
        }.toDF("a", "b")
        val got = df.select(greatest($"a", $"b"), least($"a", $"b")).collect()
        pairs.zip(got).foreach { case ((a, b), row) =>
          val vals = Seq(a, b).flatten
          val wantMax = if (vals.isEmpty) null else Integer.valueOf(vals.max)
          val wantMin = if (vals.isEmpty) null else Integer.valueOf(vals.min)
          assert(row.get(0) == wantMax && row.get(1) == wantMin)
        }
      }
    }
  }

  test("jaccard is symmetric, bounded in [0,1], and 1 on self") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val text = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    forAll(Gen.zip(text, text)) { case (x, y) =>
      val df = Seq((x, y)).toDF("x", "y")
      val Array(j1, j2, js) = df.select(
        TextFunctions.jaccard(TextFunctions.tokens($"x"), TextFunctions.tokens($"y")),
        TextFunctions.jaccard(TextFunctions.tokens($"y"), TextFunctions.tokens($"x")),
        TextFunctions.jaccard(TextFunctions.tokens($"x"), TextFunctions.tokens($"x")))
        .as[(Double, Double, Double)].head() match {
          case (a, b, c) => Array(a, b, c)
        }
      assert(j1 == j2)
      assert(j1 >= 0.0 && j1 <= 1.0)
      assert(js == 1.0)
    }
  }

  test("SortedJaccard equals the array_intersect formula bit for bit") {
    // the hash-set formula the kernel replaced; empty arrays, duplicate
    // and null tokens included
    def hashSetJaccard(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) = {
      val inter = size(array_intersect(a, b)).cast("double")
      inter / (size(array_distinct(a)) + size(array_distinct(b)) - inter)
    }
    val tok = Gen.frequency(9 -> Gen.oneOf("a", "b", "c", "d", "e", "", "é",
      "ab", "B"), 1 -> Gen.const(null: String))
    val arr = Gen.choose(0, 8).flatMap(Gen.listOfN(_, tok))
    forAll(Gen.listOfN(40, Gen.zip(arr, arr)), n = 10) { pairs =>
      // both empty is 0/0: an error in the formula (ANSI division), null
      // from the kernel
      val (zero, rest) = pairs.partition { case (a, b) =>
        a.isEmpty && b.isEmpty }
      val df = rest.toDF("a", "b")
      val got = df.select(
        TextFunctions.jaccard($"a", $"b"), hashSetJaccard($"a", $"b"))
        .as[(Double, Double)].collect()
      got.zip(rest).foreach { case ((k, f), pair) =>
        assert(java.lang.Double.doubleToRawLongBits(k) ==
          java.lang.Double.doubleToRawLongBits(f), s"$pair: $k vs $f")
      }
      if (zero.nonEmpty) {
        val e = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
        assert(e.select(TextFunctions.jaccard($"a", $"b")).head().isNullAt(0))
      }
    }
  }

  test("asofPrev matches a brute-force reference on random event sets") {
    import graft.operators.AsOfJoin
    // keys 0-2, times 0-20 (duplicates likely), payload = right row id
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000)
    val ev = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 20L)))
    forAll(Gen.zip(ev, ev), n = 12) { case (ls, rs) =>
      whenever(ls.nonEmpty && rs.nonEmpty) {
        val left = ls.zipWithIndex.map { case ((k, t), i) => (k, ts(t), i.toLong) }
          .toDF("key", "t", "lid")
        val right = rs.zipWithIndex.map { case ((k, t), i) => (k, ts(t), i.toLong) }
          .toDF("key", "rt", "rid")
        val got = AsOfJoin.asofPrev(left, right, "key", "t", "rt", Seq("rt"))
          .select($"lid", $"asof_rt").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getTimestamp(1).getTime / 1000)))
          .toMap
        ls.zipWithIndex.foreach { case ((k, t), i) =>
          // reference: max right time <= t for the key (payload value = rt)
          val want = rs.filter(r => r._1 == k && r._2 <= t).map(_._2)
            .sorted.lastOption
          assert(got(i.toLong) == want,
            s"left=($k,$t) got=${got(i.toLong)} want=$want")
        }
      }
    }
  }

  test("sessionize matches a brute-force reference on random gaps") {
    import graft.operators.Sessionize
    import java.sql.Timestamp
    val ev = Gen.listOfN(10, Gen.zip(Gen.choose(0L, 1L), Gen.choose(0L, 10000L)))
    forAll(ev, n = 12) { rows =>
      whenever(rows.nonEmpty && rows.map(r => (r._1, r._2)).distinct.size == rows.size) {
        val df = rows.map { case (u, s) =>
          (u, new Timestamp(s * 1000), 1.0)
        }.toDF("user_id", "ts", "value")
        val got = Sessionize.assign(df, "user_id", "ts", gapSeconds = 30)
          .select($"user_id", unix_micros($"ts"), $"session_idx").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        // brute force: per user, sorted times; new session when gap > 30s
        rows.groupBy(_._1).foreach { case (u, urows) =>
          val times = urows.map(_._2).sorted
          var idx = 0L
          times.zipWithIndex.foreach { case (t, i) =>
            if (i > 0 && (t - times(i - 1)) > 30) idx += 1
            assert(got((u, t * 1000000L)) == idx, s"user=$u t=$t")
          }
        }
      }
    }
  }

  test("wrap never splits words and every line fits width unless one word exceeds it") {
    import graft.functions.TextFunctions
    val word = Gen.chooseNum(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    forAll(Gen.nonEmptyListOf(word).map(_.mkString(" ")), n = 15) { text =>
      val w = 10
      val wrapped = Seq(text).toDF("s")
        .select(TextFunctions.wrap($"s", w)).as[String].head()
      // same words in the same order
      assert(wrapped.split("[\\s\n]+").toSeq == text.split("\\s+").toSeq)
      // each line within width, unless it is a single oversized word
      wrapped.split("\n").foreach { line =>
        assert(line.length <= w || !line.contains(" "), s"line=$line")
      }
    }
  }

  test("minhash signature entries are element-wise <= any member token hash") {
    val word = Gen.oneOf("p", "q", "r", "s", "t")
    forAll(Gen.nonEmptyListOf(word).map(_.distinct)) { toks =>
      val df = Seq(toks.mkString(" ")).toDF("text")
        .withColumn("toks", TextFunctions.tokens($"text"))
      val sig = df.select(TextFunctions.minhashSig("toks", 8))
        .as[Seq[Long]].head()
      val h0 = df.select(expr("transform(toks, t -> xxhash64(t, 0))"))
        .as[Seq[Long]].head()
      assert(sig.length == 8)
      assert(sig.head == h0.min) // seed-0 row is the min over seed-0 hashes
    }
  }

  test("DotProduct equals the interpreted HOF fold on random float arrays") {
    import graft.plans.GraftExpressions
    val fGen = Gen.chooseNum(-100f, 100f)
    val arrGen = for {
      n <- Gen.chooseNum(0, 40)
      a <- Gen.listOfN(n, fGen)
      b <- Gen.listOfN(n, fGen)
    } yield (a, b)
    forAll(arrGen, n = 15) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val hof = df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)).as[Double].head()
      val gen = df.select(GraftExpressions.dotProduct($"a", $"b"))
        .as[Double].head()
      // bit-identical: both are element-order sequential double folds
      assert(java.lang.Double.doubleToLongBits(gen) ==
        java.lang.Double.doubleToLongBits(hof), s"$gen != $hof for $a · $b")
    }
  }

  test("packSequences: every doc binned once, bins nondecreasing, cumsum exact") {
    import graft.operators.TextPipeline
    val docGen = Gen.chooseNum(1, 12)
    forAll(Gen.nonEmptyListOf(docGen), n = 8) { lens =>
      val docs = lens.zipWithIndex.map { case (len, i) =>
        (i.toLong, (1 to len).map(t => s"w$t").mkString(" "))
      }.toDF("doc_id", "text")
      val out = TextPipeline.packSequences(docs, "doc_id", "text",
          budgetTokens = 10, groups = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4)))
      assert(out.length == lens.length, "every doc exactly once")
      out.groupBy(_._2).foreach { case (_, g) =>
        val sorted = g.sortBy(_._1)
        // tokens_before is the exact running sum within the group
        var cum = 0L
        sorted.foreach { case (_, _, bin, n, before) =>
          assert(before == cum)
          assert(bin == cum / 10)
          cum += n
        }
        // bins never decrease in doc order
        assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
      }
    }
  }

  test("rank methods: bounds, tie consistency, and average-rank identity") {
    val gen = Gen.nonEmptyListOf(Gen.choose(0, 9).map(_.toDouble))
    forAll(gen, n = 12) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      val gf = graft.api.GFrame(df)
      def ranks(m: String): Map[Int, Double] =
        gf.rank("v", method = m).toDF.collect()
          .map(r => r.getInt(0) -> (r.get(2) match {
            case i: Int => i.toDouble
            case l: Long => l.toDouble
            case d: Double => d
          })).toMap
      val (mn, mx, av) = (ranks("min"), ranks("max"), ranks("average"))
      val n = vs.size
      // average of average-ranks over the whole frame is always (n+1)/2
      assert(math.abs(av.values.sum / n - (n + 1) / 2.0) < 1e-9)
      vs.indices.foreach { i =>
        assert(mn(i) >= 1 && mx(i) <= n && mn(i) <= mx(i))
        assert(av(i) == (mn(i) + mx(i)) / 2.0)
        // equal values share every rank flavor
        vs.indices.foreach { j =>
          if (vs(i) == vs(j)) assert(mn(i) == mn(j) && mx(i) == mx(j))
        }
      }
    }
  }

  test("qcut: labels are monotone in value and cover 1..k") {
    val gen = Gen.listOfN(40, Gen.choose(0, 100).map(_.toDouble))
      .suchThat(_.nonEmpty)
    forAll(gen, n = 10) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      val out = graft.api.GFrame(df).qcut("v", 4).toDF
        .collect().map(r => (r.getDouble(1), r.getInt(2)))
      out.foreach { case (_, b) => assert(b >= 1 && b <= 4) }
      // label is a non-decreasing function of the value
      val byVal = out.sortBy(_._1)
      assert(byVal.map(_._2).toSeq == byVal.map(_._2).sorted.toSeq)
      // equal values share a bin
      out.groupBy(_._1).values.foreach(g => assert(g.map(_._2).distinct.size == 1))
    }
  }

  test("posting-list pair generation equals the self-join formulation") {
    val gen = Gen.listOfN(20,
      Gen.zip(Gen.choose(0L, 12L), Gen.choose(0, 4)))
    forAll(gen, n = 10) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("id", "k")
        val got = graft.operators.PostingLists.candidatePairs(df, "id", "k")
          .select($"a", $"b").as[(Long, Long)].collect()
        // reference semantics: the strict a.id < b.id bucket self-join
        val want = df.as("x").join(df.as("y"),
            $"x.k" === $"y.k" && $"x.id" < $"y.id")
          .select($"x.id", $"y.id").as[(Long, Long)].collect()
        // one row per (key, pair) on both sides — compare as multisets
        assert(got.sorted.toSeq == want.sorted.toSeq,
          s"posting lists diverged from join on $rows")
        // distinctIds mode == running plain mode over pre-distinct rows
        val gotSet = graft.operators.PostingLists
          .candidatePairs(df, "id", "k", distinctIds = true)
          .select($"a", $"b").as[(Long, Long)].collect()
        val wantSet = graft.operators.PostingLists
          .candidatePairs(df.distinct(), "id", "k")
          .select($"a", $"b").as[(Long, Long)].collect()
        assert(gotSet.sorted.toSeq == wantSet.sorted.toSeq,
          s"distinctIds diverged from pre-distinct input on $rows")
      }
    }
  }

  test("segment dedup invariants hold on random corpora") {
    // docs of 1-6 segments drawn from a 5-segment pool => heavy overlap
    val seg = Gen.oneOf("alpha", "beta", "gamma", "delta", "omega")
    val doc = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, seg).map(_.mkString("\n")))
    val gen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, doc))
    forAll(gen, n = 6) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val segsOf = (t: String) => t.split("\n").toSeq

      // keep-first: every distinct corpus segment survives EXACTLY once
      val kept = graft.operators.SegmentDedup
        .dedupSegmentsKeepFirst(df, "doc_id", "text")
        .orderBy("doc_id").collect()
      val survivors = kept.map(_.getString(1)).filter(_.nonEmpty)
        .flatMap(segsOf)
      val distinctCorpus = texts.flatMap(segsOf).distinct.sorted
      assert(survivors.sorted.toSeq == distinctCorpus,
        s"keep-first must emit each distinct segment once on $texts")
      // counts reconcile per doc
      kept.zipWithIndex.foreach { case (r, i) =>
        val total = segsOf(texts(i)).size
        assert(r.getLong(2) == total.toLong)
        val keptN = if (r.getString(1).isEmpty) 0 else segsOf(r.getString(1)).size
        assert(r.getLong(3) == (total - keptN).toLong)
      }

      // minDocFrac = 1.0 removes exactly the segments present in EVERY doc
      val univ = texts.map(segsOf(_).toSet).reduce(_ intersect _)
      val pruned = graft.operators.SegmentDedup
        .removeFrequentSegments(df, "doc_id", "text", minDocFrac = 1.0)
        .orderBy("doc_id").collect()
      pruned.zipWithIndex.foreach { case (r, i) =>
        val want = segsOf(texts(i)).filterNot(univ)
        val got = if (r.getString(1).isEmpty) Seq() else segsOf(r.getString(1))
        assert(got == want, s"frac=1.0 must drop exactly $univ in ${texts(i)}")
      }
    }
  }

  test("editDistanceJoin equals brute force on random words (k=1 and 2)") {
    // short random words over a 3-letter alphabet maximize near-collisions,
    // stressing both the neighborhood recall and the verify precision
    val word = Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val gen = Gen.listOfN(12, word)
    forAll(gen, n = 8) { words =>
      val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      for (k <- Seq(1, 2)) {
        val got = graft.operators.FuzzyJoin.editDistanceJoin(
            df.select($"id".as("id1"), $"w".as("w1")), "id1", "w1",
            df.select($"id".as("id2"), $"w".as("w2")), "id2", "w2", k)
          .filter($"id1" < $"id2")
          .select($"id1", $"id2").as[(Long, Long)].collect().toSet
        val want = (for {
          (a, i) <- words.zipWithIndex; (b, j) <- words.zipWithIndex
          if i < j && levenshteinRef(a, b) <= k
        } yield (i.toLong, j.toLong)).toSet
        assert(got == want, s"k=$k diverged on $words")
      }
    }
  }

  /** Textbook Wagner–Fischer reference implementation. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("winnowing: shared k+w-1 runs always share a fingerprint; density bounded") {
    import graft.operators.TextPipeline
    val word = Gen.oneOf("ax", "by", "cz", "dw", "ev", "fu", "gt", "hs")
    val gen = for {
      n1 <- Gen.choose(8, 20)
      n2 <- Gen.choose(8, 20)
      d1 <- Gen.listOfN(n1, word)
      d2 <- Gen.listOfN(n2, word)
      runLen <- Gen.choose(6, 9) // k + w - 1 = 6 guarantees detection
      run <- Gen.listOfN(runLen, word)
    } yield (d1, d2, run)
    forAll(gen, n = 12) { case (d1, d2, run) =>
      // plant the same run in both docs
      val t1 = (d1 ++ run).mkString(" ")
      val t2 = (run ++ d2).mkString(" ")
      val fps = TextPipeline
        .winnowFingerprints(
          Seq((1L, t1), (2L, t2)).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val s1 = fps.collect { case (1L, f) => f }.toSet
      val s2 = fps.collect { case (2L, f) => f }.toSet
      assert((s1 & s2).nonEmpty,
        s"planted shared run of ${run.length} tokens produced no shared fingerprint")
      // density: selected distinct fps never exceed gram count, and
      // winnowing picks ≤ 1 new fp per window start
      val grams1 = (d1.length + run.length) - 2
      assert(s1.size <= grams1 - 3)
    }
  }

  test("MediaCodec wav/bmp encode-decode round-trips on random payloads") {
    import graft.operators.MediaCodec
    val wavGen = for {
      n <- Gen.choose(1, 200)
      ch <- Gen.choose(1, 4)
      rate <- Gen.oneOf(8000, 16000, 44100)
      samples <- Gen.listOfN(n * ch,
        Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt).map(_.toShort))
    } yield (samples.toArray, rate, ch)
    forAll(wavGen, n = 40) { case (samples, rate, ch) =>
      val (r2, c2, s2) = MediaCodec.wavDecode(
        MediaCodec.wavEncode(samples, rate, ch))
      assert(r2 == rate && c2 == ch && s2.toSeq == samples.toSeq)
    }
    val bmpGen = for {
      w <- Gen.choose(1, 9) // exercises every row padding (0-3 bytes)
      h <- Gen.choose(1, 7)
      rgb <- Gen.listOfN(w * h * 3, Gen.choose(0, 255).map(_.toByte))
    } yield (w, h, rgb.toArray)
    forAll(bmpGen, n = 40) { case (w, h, rgb) =>
      val (w2, h2, rgb2) = MediaCodec.bmpDecode(MediaCodec.bmpEncode(w, h, rgb))
      assert(w2 == w && h2 == h && rgb2.toSeq == rgb.toSeq)
    }
  }

  test("quotaPerKeyWindow never exceeds k and never reorders survivors") {
    import graft.operators.Throttle
    val gen = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        key <- Gen.choose(1L, 4L)
        tsSec <- Gen.choose(0L, 7200L) // spans 3 hourly windows
      } yield (key, tsSec))
    } yield rows
    forAll(gen, n = 15) { rows =>
      val df = rows.zipWithIndex.map { case ((k, sec), i) =>
        (k, new java.sql.Timestamp(sec * 1000L), i.toLong)
      }.toDF("key", "ts", "eid")
      val kept = Throttle.quotaPerKeyWindow(df, "key", "ts", "1 hour",
          k = 3, tieBreakCol = "eid")
        .select($"key", $"eid", $"seq_in_window").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      // per (key, hour): at most 3, and they are the FIRST 3 by (ts, eid)
      val byKeyWin = kept.groupBy { case (k, eid, _) =>
        (k, rows(eid.toInt)._2 / 3600) }
      byKeyWin.foreach { case ((k, win), g) =>
        assert(g.length <= 3)
        val expect = rows.zipWithIndex
          .filter { case ((rk, sec), _) => rk == k && sec / 3600 == win }
          .sortBy { case ((_, sec), i) => (sec, i) }.take(3).map(_._2.toLong)
        assert(g.map(_._2).sorted.toSeq == expect.sorted,
          s"wrong survivors for ($k,$win)")
      }
    }
  }

  test("temperatureMixture: alpha=1 keeps natural shares; lower alpha flattens") {
    import graft.operators.Curation
    val d = ((0L until 900L).map(i => (i, "big")) ++
      (900L until 1000L).map(i => (i, "small"))).toDF("id", "g")
    def shares(alpha: Double): (Double, Double) = {
      val kept = Curation.temperatureMixture(d, "g", "id", alpha, 500L, "pp")
        .groupBy("g").count().as[(String, Long)].collect().toMap
      (kept.getOrElse("big", 0L).toDouble / 900.0,
        kept.getOrElse("small", 0L).toDouble / 100.0)
    }
    val (b1, s1) = shares(1.0)
    val (b5, s5) = shares(0.5)
    // flattening: the small group's keep-rate ADVANTAGE grows as alpha drops
    assert(s5 / b5 > s1 / b1 + 0.5,
      s"alpha=0.5 should favor small more: a1=($b1,$s1) a05=($b5,$s5)")
  }

  test("interleaveBySource emits a prefix-balanced order") {
    import graft.operators.Curation
    val gen = Gen.choose(2, 5).flatMap(k =>
      Gen.listOfN(k, Gen.choose(3, 30)).map(_.zipWithIndex))
    forAll(gen, n = 10) { sizes =>
      var id = 0L
      val rows = sizes.flatMap { case (n, s) =>
        (0 until n).map { _ => id += 1; (id, s"s$s") } }
      val order = Curation.interleaveBySource(
        rows.toDF("id", "src"), "src", "id", "x")
        .collect().map(_.getString(1))
      // after any prefix, per-source counts differ by at most 1 among
      // sources that are not yet exhausted
      val totals = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val seen = scala.collection.mutable.Map.empty[String, Int]
      order.zipWithIndex.foreach { case (s, i) =>
        seen(s) = seen.getOrElse(s, 0) + 1
        val active = totals.filter { case (src, tot) =>
          seen.getOrElse(src, 0) < tot }
        if (active.size > 1) {
          val counts = active.keys.map(src => seen.getOrElse(src, 0))
          assert(counts.max - counts.min <= 1,
            s"unbalanced prefix at $i: $seen totals=$totals")
        }
      }
    }
  }
}
