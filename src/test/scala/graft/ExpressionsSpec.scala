package graft

import graft.plans.{GraftExpressions, PorterStem}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("NormalizeNaNZero maps -0.0 to +0.0 and keeps values") {
    val got = Seq(-0.0, 0.0, 1.5, -2.5).toDF("x")
      .select(GraftExpressions.normalizeNanZero($"x").as("y"))
      .as[Double].collect()
    assert(got.toSeq == Seq(0.0, 0.0, 1.5, -2.5))
    assert(1.0 / got(0) > 0, "-0.0 must become +0.0")
  }

  test("NormalizeNaNZero canonicalizes NaN") {
    val got = Seq(Double.NaN).toDF("x")
      .select(GraftExpressions.normalizeNanZero($"x")).as[Double].head()
    assert(got.isNaN)
  }

  test("PorterStem matches classic algorithm outputs") {
    val cases = Map(
      "caresses" -> "caress", "ponies" -> "poni", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "motoring" -> "motor", "sing" -> "sing", "happy" -> "happi",
      "relational" -> "relat", "conditional" -> "condit",
      "hopeful" -> "hope", "goodness" -> "good",
      // step 4 fires ONE rule: no al-then-ion double strip
      "professional" -> "profession", "adoption" -> "adopt")
    cases.foreach { case (in, want) =>
      assert(PorterStem.stem(in) == want, s"stem($in)")
    }
  }

  test("DotProduct matches the interpreted HOF fold bit-for-bit") {
    val df = Seq(
        (Seq(1.5f, -2.25f, 0.5f), Seq(4.0f, 0.125f, -8.0f)),
        (Seq(0.1f, 0.2f, 0.3f), Seq(0.7f, 0.8f, 0.9f)))
      .toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)).as[Double].collect()
    val gen = df.select(GraftExpressions.dotProduct($"a", $"b"))
      .as[Double].collect()
    // exact equality: both are sequential element-order double folds
    assert(gen.toSeq == hof.toSeq)
    // null array -> null; null element -> null
    val nulls = Seq(
        (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
        (null, Seq[java.lang.Double](1.0)))
      .toDF("a", "b")
      .select(GraftExpressions.dotProduct($"a", $"b").as("d"))
      .collect().map(_.isNullAt(0))
    assert(nulls.toSeq == Seq(true, true))
    // null ELEMENT inside NON-NULLABLE array children (CreateArray):
    // locks the nullable override — without it codegen never declares
    // isNull and the emitted assignment fails to compile
    val ca = Seq((Some(1.0), 2.0), (None, 3.0)).toDF("x", "y")
      .select(GraftExpressions.dotProduct(array($"x"), array($"y")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(ca.toSeq == Seq(Some(2.0), None))
    // SQL surface, installed by the session's GraftExtensions
    val viaSql = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .selectExpr("dot_product(a, b)").as[Double].head()
    assert(viaSql == 11.0)
  }

  test("GraftExtensions installs SQL functions in a fresh session") {
    import org.apache.spark.sql.SparkSession
    val base = spark // ensure context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      val got = s2.sql("SELECT porter_stem('running') AS s").collect()(0).getString(0)
      assert(got == "run")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("TestSpark runs on the Session.local contract") {
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sessionState.conf
    // ANSI is set explicitly (fast_decimal's precondition), not inherited
    // from Spark's default
    assert(spark.sparkContext.getConf.getOption(SQLConf.ANSI_ENABLED.key)
      .contains("true"))
    assert(conf.ansiEnabled)
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) ==
      64 * 1024L)
    assert(conf.sessionLocalTimeZone == "UTC")
    assert(spark.sql("SELECT porter_stem('running')").as[String].head() == "run")
  }

  test("porter_stem registered as SQL function") {
    val got = spark.sql("SELECT porter_stem('running') AS s")
      .as[String].head()
    assert(got == "run")
  }

  test("WordPieceTokenize: greedy longest match, ## continuations, [UNK]") {
    import graft.plans.WordPieceTokenize
    val vocab = Seq("un", "##aff", "##able", "aff", "the")
    val got = Seq("the unaffable zzz").toDF("s")
      .select(WordPieceTokenize($"s", vocab).as("p"))
      .as[Seq[String]].head()
    assert(got == Seq("the", "un", "##aff", "##able", "[UNK]"))
  }

  test("RangeJoin custom operator matches the built-in join result") {
    import graft.plans.RangeJoin
    val facts = Seq((1L, 5.0), (2L, 15.0), (3L, 25.0), (4L, 9.99), (5L, 10.0))
      .toDF("k", "v")
    val bins = Seq(("low", 0.0, 10.0), ("mid", 10.0, 20.0))
      .toDF("label", "lo", "hi")
    val custom = RangeJoin.rangeJoin(facts, bins, "v", "lo", "hi")
      .select("k", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val builtin = facts.join(bins, $"v" >= $"lo" && $"v" < $"hi")
      .select("k", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(custom == builtin)
    assert(custom == Set((1L, "low"), (4L, "low"), (5L, "mid"), (2L, "mid")))
    // physical plan actually uses the custom exec (nodeName drops "Exec")
    val exec = RangeJoin.rangeJoin(facts, bins, "v", "lo", "hi")
      .queryExecution.executedPlan
    assert(exec.collectFirst { case e: graft.plans.RangeJoinExec => e }.isDefined,
      exec.toString)
  }

  test("RangeJoin drops null interval bounds and rejects non-numeric cols") {
    import graft.plans.RangeJoin
    val facts = Seq((1L, 5.0), (2L, 15.0)).toDF("k", "v")
    val bins = Seq(("low", Some(0.0), Some(10.0)),
        ("bad_lo", None, Some(99.0)), ("bad_hi", Some(0.0), None))
      .toDF("label", "lo", "hi")
    val got = RangeJoin.rangeJoin(facts, bins, "v", "lo", "hi")
      .select("k", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "low")), "null-bounded intervals must not match")
    val strBins = Seq(("x", "a", "b")).toDF("label", "lo", "hi")
    intercept[IllegalArgumentException] {
      RangeJoin.rangeJoin(facts, strBins, "v", "lo", "hi")
    }
  }

  test("ewma merge path raises instead of silently merging partial states") {
    import org.apache.spark.sql.graftshim.ColumnBridge
    import graft.plans.Ewma
    // Bypass the WindowSpec-requiring API to simulate a user planting the
    // aggregate in groupBy/agg, where partial-merge would be wrong.
    val df = (1 to 100).map(i => (i % 2, i.toDouble)).toDF("k", "v")
      .repartition(4)
    val agg = ColumnBridge.column(
      Ewma(ColumnBridge.expression($"v"), 0.5).toAggregateExpression())
    val ex = intercept[Exception] {
      df.groupBy($"k").agg(agg.as("e")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("ewma")), ex.toString)
  }

  test("broadcast tokenizer tables: known output, no plan payload") {
    import graft.plans.{BpeEncode, WordPieceTokenize}
    // >50k-entry synthetic tables with a recognizable sentinel entry:
    // each expression must produce the known pieces / ids and render
    // only its broadcast handle, never the entries, into the plan
    val sentinel = "zq_sentinel_12345"
    val bigVocab = (0 until 60000).map(i => s"zq_sentinel_$i") ++
      Seq("un", "##aff", "##able", "low", "##er")
    val df = Seq("unaffable lower").toDF("s")
    val wp = df.select(WordPieceTokenize($"s", bigVocab).as("p"))
    assert(wp.as[Seq[String]].head() ==
      Seq("un", "##aff", "##able", "low", "##er"))
    assert(!wp.queryExecution.executedPlan.toString.contains(sentinel),
      "vocab entries must not render into the plan")

    val bigMerges = (0 until 60000).map(i => (s"zq$i", s"sent$i")) ++
      Seq("l" -> "o", "lo" -> "w", "e" -> "r", "er" -> "!")
    val bpe = df.select(BpeEncode($"s", bigMerges).as("p"))
    assert(bpe.as[Seq[String]].head() ==
      Seq("u", "n", "a", "f", "f", "a", "b", "l", "e", "low", "er"))
    assert(!bpe.queryExecution.executedPlan.toString.contains("zq12345"))

    // VocabIds (via idsFor): ids are vocab row indices, -1 when missing
    val toks = Seq(Seq("low", "zq_sentinel_59999", "missing")).toDF("t")
    val ids = toks.select(graft.operators.VocabTokenize
      .idsFor($"t", bigVocab).as("ids"))
    assert(ids.as[Seq[Int]].head() == Seq(60003, 59999, -1))
    assert(!ids.queryExecution.executedPlan.toString.contains(sentinel))
  }

  test("BpeEncode applies merges in rank order (classic lower->low+er)") {
    import graft.plans.BpeEncode
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "r", "low" -> "er")
    val got = Seq("lower low newer").toDF("s")
      .select(BpeEncode($"s", merges)).as[Seq[String]].head()
    assert(got == Seq("lower", "low", "n", "e", "w", "er"))
  }

  test("BpeEncode with no applicable merges returns characters") {
    import graft.plans.BpeEncode
    val got = Seq("xyz").toDF("s")
      .select(BpeEncode($"s", Seq("a" -> "b"))).as[Seq[String]].head()
    assert(got == Seq("x", "y", "z"))
  }

  test("TDigestQuantile tracks exact percentiles within tolerance") {
    import graft.plans.TDigestQuantile
    val df = (1 to 10000).map(i => (i % 7, i.toDouble)).toDF("g", "v")
    val got = df.groupBy($"g")
      .agg(TDigestQuantile.of($"v", 0.5, 100).as("td"),
        expr("percentile(v, 0.5)").as("exact"))
      .select(abs($"td" - $"exact") / $"exact").as[Double].collect()
    assert(got.forall(_ < 0.02), s"relative errors: ${got.toSeq}")
  }

  test("TDigest sketch merge equals single-pass digest quantiles (approx)") {
    import graft.plans.TDigest
    val a = new TDigest(100); val b = new TDigest(100); val all = new TDigest(100)
    (1 to 5000).foreach { i => a.add(i); all.add(i) }
    (5001 to 10000).foreach { i => b.add(i); all.add(i) }
    a.merge(b)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      assert(math.abs(a.quantile(q) - all.quantile(q)) / 10000 < 0.02)
      assert(math.abs(a.quantile(q) - q * 10000) / 10000 < 0.02)
    }
  }

  test("TDigestSketch column + MERGE_TDIGEST rollup tracks exact quantiles") {
    import graft.plans.TDigestSketch
    // 4 fine groups over a known distribution, rolled up to 2 coarse
    // groups through a SERIALIZED sketch column — the incremental
    // sketch-table path (digest stored, raw data never rescanned)
    val df = (1 to 8000).map { i =>
      (if (i % 2 == 0) "x" else "y", i % 4, i.toDouble) }
      .toDF("coarse", "fine", "v")
    val sketches = df.groupBy($"coarse", $"fine")
      .agg(TDigestSketch.of($"v").as("td"))
    assert(sketches.schema("td").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val rolled = sketches.groupBy($"coarse")
      .agg(TDigestSketch.mergeQuantile($"td", 0.5).as("p50"),
        TDigestSketch.mergeQuantile($"td", 0.9).as("p90"))
      .orderBy($"coarse").collect()
    // both coarse groups hold a near-uniform sample of 1..8000
    rolled.foreach { r =>
      assert(math.abs(r.getDouble(1) - 4000) / 8000 < 0.02,
        s"p50 off for ${r.getString(0)}: ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 7200) / 8000 < 0.02,
        s"p90 off for ${r.getString(0)}: ${r.getDouble(2)}")
    }
  }

  test("KMV sketch: exact below saturation, ~6% above, merge = union") {
    import graft.plans.{KmvBuffer, KmvDistinct, PortableHash}
    // below k: the sketch IS the distinct set
    val small = new KmvBuffer(256)
    (1 to 100).foreach(i => small.add(PortableHash.md5_60(i.toString.getBytes)))
    (1 to 100).foreach(i => small.add(PortableHash.md5_60(i.toString.getBytes)))
    assert(small.estimate == 100.0, "duplicates must not inflate")
    // above k: estimator within ~4 standard errors (1/sqrt(k-2) ~ 6.3%)
    val big = new KmvBuffer(256)
    (1 to 50000).foreach(i => big.add(PortableHash.md5_60(i.toString.getBytes)))
    assert(math.abs(big.estimate - 50000) / 50000 < 0.25, s"${big.estimate}")
    // merge of disjoint halves == single-pass sketch (set semantics)
    val a = new KmvBuffer(256); val b = new KmvBuffer(256)
    (1 to 25000).foreach(i => a.add(PortableHash.md5_60(i.toString.getBytes)))
    (25001 to 50000).foreach(i => b.add(PortableHash.md5_60(i.toString.getBytes)))
    a.merge(b)
    assert(a.estimate == big.estimate, "merge must equal the one-pass sketch")
    // serialization round trip
    val rt = KmvBuffer.deserialize(big.serialize())
    assert(rt.estimate == big.estimate && rt.k == 256)
    // through a real plan, group split across partitions
    val df = (1 to 10000).map(i => (i % 2, i.toString)).toDF("g", "v")
      .repartition(8)
    val got = df.groupBy($"g").agg(KmvDistinct.of($"v").as("est"))
      .orderBy($"g").as[(Int, Double)].collect()
    got.foreach { case (_, est) =>
      assert(math.abs(est - 5000) / 5000 < 0.25, s"$est")
    }
  }

  test("Damerau-Levenshtein is the FULL Lowrance-Wagner variant with " +
    "metric properties on random strings") {
    import graft.plans.EditDistanceImpl.damerau
    // CA->ABC distinguishes full DL (2: CA->AC->ABC) from restricted
    // OSA (3); matches DuckDB's damerau_levenshtein.
    assert(damerau("CA", "ABC") == 2)
    assert(damerau("ab", "ba") == 1)
    assert(damerau("abcdef", "abcfed") == 2)
    assert(damerau("kitten", "sitting") == 3)
    assert(damerau("", "abc") == 3 && damerau("abc", "") == 3)
    assert(damerau("same", "same") == 0)
    // adjacent swap costs at most 1
    assert(damerau("abcd", "abdc") == 1 && damerau("abcd", "bacd") == 1)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    val rnd = new scala.util.Random(42)
    def randStr() = (0 until rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    (1 to 300).foreach { _ =>
      val (a, b, c) = (randStr(), randStr(), randStr())
      val ab = damerau(a, b)
      assert(ab == damerau(b, a), s"symmetry: $a $b")
      assert(ab <= lev(a, b), s"DL must not exceed Levenshtein: $a $b")
      assert((ab == 0) == (a == b), s"identity: $a $b")
      assert(ab <= damerau(a, c) + damerau(c, b), s"triangle: $a $b $c")
    }
  }

  test("Hamming counts differing positions and rejects unequal lengths " +
    "(DuckDB contract)") {
    import graft.plans.EditDistanceImpl.hamming
    assert(hamming("karolin", "kathrin") == 3)
    assert(hamming("", "") == 0)
    assert(hamming("abc", "abc") == 0)
    intercept[IllegalArgumentException](hamming("a", "ab"))
  }

  test("KMV set algebra: exact below saturation; additivity identity above") {
    import graft.plans.{KmvSetEst, KmvSketch}
    // exact mode: A = 1..60, B = 41..100 (|A∪B|=100 < k=128)
    val rows = ((1 to 60).map(i => ("a", i.toString)) ++
      (41 to 100).map(i => ("b", i.toString))).toDF("s", "v")
    val sk = rows.agg(
      KmvSketch.of(when($"s" === "a", $"v"), 128).as("sa"),
      KmvSketch.of(when($"s" === "b", $"v"), 128).as("sb"))
    val ex = sk.select(
      KmvSetEst.union($"sa", $"sb"), KmvSetEst.intersect($"sa", $"sb"),
      KmvSetEst.diff($"sa", $"sb"), KmvSetEst.jaccard($"sa", $"sb"))
      .as[(Double, Double, Double, Double)].head()
    assert(ex == ((100.0, 20.0, 40.0, 0.2)), s"exact mode: $ex")
    // saturated mode: A = 1..20000, B = 10001..30000, k=256
    val big = ((1 to 20000).map(i => ("a", i.toString)) ++
      (10001 to 30000).map(i => ("b", i.toString))).toDF("s", "v")
      .repartition(8)
    val bs = big.agg(
      KmvSketch.of(when($"s" === "a", $"v"), 256).as("sa"),
      KmvSketch.of(when($"s" === "b", $"v"), 256).as("sb"))
    val (u, i2, dab, dba) = bs.select(
      KmvSetEst.union($"sa", $"sb"), KmvSetEst.intersect($"sa", $"sb"),
      KmvSetEst.diff($"sa", $"sb"), KmvSetEst.diff($"sb", $"sa"))
      .as[(Double, Double, Double, Double)].head()
    assert(math.abs(u - 30000) / 30000 < 0.25, s"union est $u")
    assert(math.abs(i2 - 10000) / 10000 < 0.5, s"intersect est $i2")
    // partition identity: the three disjoint estimates tile the union
    // exactly ((ki + kd_ab + kd_ba) = k by construction)
    assert(math.abs(i2 + dab + dba - u) < 1e-6, s"$i2 + $dab + $dba != $u")
  }

  test("KmvMerge rollup equals the direct one-pass sketch (mergeability)") {
    import graft.plans.{KmvDistinct, KmvMerge, KmvSketch}
    val df = (1 to 5000).map(i => (i % 10, i.toString)).toDF("g", "v")
      .repartition(8)
    val merged = df.groupBy($"g").agg(KmvSketch.of($"v", 256).as("sk"))
      .agg(KmvMerge.of($"sk", 256).as("est")).as[Double].head()
    val direct = df.agg(KmvDistinct.of($"v", 256).as("est")).as[Double].head()
    assert(merged == direct,
      s"rollup $merged must equal one-pass $direct exactly")
  }

  test("DoubleMetaphone matches commons-codec (the de-facto reference " +
    "implementation) on fixtures and 20k fuzz strings") {
    import graft.plans.DoubleMetaphoneImpl
    val ref = new org.apache.commons.codec.language.DoubleMetaphone
    def check(w: String): Unit = {
      assert(DoubleMetaphoneImpl.primary(w) == ref.doubleMetaphone(w),
        s"primary('$w'): ${DoubleMetaphoneImpl.primary(w)} vs ${ref.doubleMetaphone(w)}")
      assert(DoubleMetaphoneImpl.alternate(w) == ref.doubleMetaphone(w, true),
        s"alternate('$w'): ${DoubleMetaphoneImpl.alternate(w)} vs ${ref.doubleMetaphone(w, true)}")
    }
    val fixtures = Seq(
      "SMITH", "SCHMIDT", "JOSE", "SAN JOSE", "XAVIER", "GNOME", "KNIGHT",
      "WRIGHT", "PSYCHO", "CAESAR", "CHIANTI", "MICHAEL", "CHORE", "ORCHID",
      "ARCHITECT", "MCHUGH", "EDGE", "EDGAR", "GHOST", "AGHAST", "HUGH",
      "LAUGH", "COUGH", "JOHN", "JJ", "CABRILLO", "VILLA", "ALLE", "THUMB",
      "DUMB", "PHONE", "SUGAR", "ISLAND", "SHOEK", "SHEIM", "SIO", "SIA",
      "SCHOOL", "SCHERMERHORN", "SCHENKER", "SCIENCE", "SCYTHE", "SKATE",
      "NATION", "THOMAS", "THAMES", "VON THURN", "WITZ", "FILIPOWICZ",
      "BREAUX", "AUX", "ZHAO", "ZAZA", "TZAR", "WEWSKI", "OWSKY", "WHALE",
      "AWE", "EWE", "ROGIER", "HOGGY", "AGGI", "RAJ", "JA", "HALLELUJAH",
      "a", "", "   ", "Nbc-12#x", "O'BRIEN", "McDonald", "van gogh",
      "accident", "success", "flaccid", "bacchus", "focaccia", "cappuccino")
    fixtures.foreach(check)
    val rnd = new scala.util.Random(7)
    (1 to 20000).foreach { _ =>
      val len = 1 + rnd.nextInt(12)
      val w = (0 until len).map { _ =>
        if (rnd.nextInt(8) == 0) ' ' else ('A' + rnd.nextInt(26)).toChar
      }.mkString
      check(w)
    }
    // vowel-heavy fuzz reaches the J/W/H edge branches more often
    (1 to 10000).foreach { _ =>
      val len = 1 + rnd.nextInt(8)
      val w = (0 until len).map(_ => "AEIOUYJWHGCSZ".charAt(rnd.nextInt(13))).mkString
      check(w)
    }
  }

  test("SpaceSaving: exact in the m>=distinct regime; Zipf heavy hitters " +
    "retained with bounded overestimate under random partitioning") {
    import graft.plans.{SpaceSavingBuffer, SpaceSavingTopK}
    // exact regime through a real distributed plan: 10 keys, m=64
    val df = (1 to 10000).map(i => s"k${i % 10}").toDF("v").repartition(8)
    val got = df.agg(SpaceSavingTopK.of($"v", 64, 10).as("tk"))
      .select(explode($"tk").as("s"))
      .select($"s.term", $"s.cnt", $"s.err")
      .as[(String, Long, Long)].collect()
    assert(got.length == 10 && got.forall(t => t._2 == 1000L && t._3 == 0L),
      s"exact regime must return exact counts: ${got.toSeq}")
    // sketched regime: Zipf-ish stream (key j with frequency ~ N/j),
    // m=16 << 200 distinct, merged across a random 8-way split
    val rnd = new scala.util.Random(11)
    val stream = (1 to 200).flatMap(j => Seq.fill(4000 / j)(s"z$j"))
    val shuffled = rnd.shuffle(stream)
    val parts = Array.fill(8)(new SpaceSavingBuffer(16))
    shuffled.foreach(k => parts(rnd.nextInt(8)).add(k))
    val merged = parts.reduce { (a, b) => a.merge(b); a }
    val n = stream.size.toLong
    val trueCounts = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bound = 2L * n / 16
    // every key with true count > 2n/m must be retained
    trueCounts.filter(_._2 > bound).keys.foreach { k =>
      assert(merged.counters.contains(k), s"heavy key $k evicted")
    }
    // estimates never undercount and overcount within the summed bound
    merged.counters.foreach { case (k, (c, e)) =>
      val t = trueCounts.getOrElse(k, 0L)
      assert(c >= t, s"$k undercounted: $c < $t")
      assert(c - t <= e + bound, s"$k overcount ${c - t} beyond bound")
    }
    // serialization round trip
    val rt = SpaceSavingBuffer.deserialize(merged.serialize())
    assert(rt.counters == merged.counters && rt.m == 16)
    // long keys round-trip too (writeUTF would throw past 64 KiB of
    // modified UTF-8 — the serializer uses length-prefixed raw bytes)
    val long1 = new SpaceSavingBuffer(4)
    val bigKey = "k" * 100000 + "é" * 10000
    long1.add(bigKey); long1.add(bigKey); long1.add("small")
    val rt2 = SpaceSavingBuffer.deserialize(long1.serialize())
    assert(rt2.counters == long1.counters,
      "long-key buffer failed the serialize round trip")
    // non-string input stringifies instead of ClassCastException
    val ints = (1 to 100).map(i => i % 7).toDF("n")
    val topInts = ints.agg(SpaceSavingTopK.of($"n", 8, 3).as("tk"))
      .selectExpr("inline(tk)").collect()
    assert(topInts.nonEmpty && topInts.head.getString(0).forall(_.isDigit))
  }

  test("WrapText matches the wrap kernel contract (wrap.hpp examples + caps)") {
    import graft.plans.WrapTextImpl.wrap
    // wrap.hpp:36-50 doc examples, verbatim
    assert(wrap("12345", 3) == "12345")         // overlong word never split
    assert(wrap("thesé", 3) == "thesé")
    assert(wrap("ARE THE", 3) == "ARE\nTHE")
    assert(wrap("tést strings", 3) == "tést\nstrings")
    assert(wrap("", 3) == "")
    assert(wrap("the quick brown fox jumped over the lazy brown dog", 12) ==
      "the quick\nbrown fox\njumped over\nthe lazy\nbrown dog")
    assert(wrap("hello, world", 12) == "hello, world") // exactly width fits
    // asymmetric caps: the break char occupies a window slot, so the
    // first line fits `width` chars but later lines only `width - 1` —
    // "ef gh" is exactly 5 = width yet must still break
    assert(wrap("ab cd ef gh ij kl", 5) == "ab cd\nef\ngh\nij\nkl")
    val w = wrap("aa bb cc dd ee ff gg hh", 6)
    val lines = w.split("\n")
    assert(lines.head.length <= 6 && lines.tail.forall(_.length <= 5),
      s"caps violated: $w")
    // output length always equals input length (in-place rewrite)
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val words = (0 to rnd.nextInt(12)).map(_ =>
        "abcdefghij".take(1 + rnd.nextInt(9)))
      val s = words.mkString(" ")
      val out = wrap(s, 4 + rnd.nextInt(10))
      assert(out.length == s.length, s"length changed: '$s' -> '$out'")
      assert(out.replace('\n', ' ') == s, s"non-space chars changed: '$out'")
    }
    // whitespace conversion: tabs/newlines become spaces or breaks
    assert(wrap("a\tb\nc", 20) == "a b c")
    // expression path: codegen and null behavior
    val df = Seq(Some("ARE THE"), None).toDF("s")
      .select(GraftExpressions.wrapText($"s", 3).as("w"))
    assert(df.as[Option[String]].collect().toSeq ==
      Seq(Some("ARE\nTHE"), None))
  }

  test("NYSIIS and Refined Soundex match commons-codec on fixtures and fuzz") {
    import graft.plans.PhoneticExtraImpl
    val ny = new org.apache.commons.codec.language.Nysiis
    val rs = new org.apache.commons.codec.language.RefinedSoundex
    def check(w: String): Unit = {
      assert(PhoneticExtraImpl.nysiis(w) == ny.encode(w),
        s"nysiis('$w'): ${PhoneticExtraImpl.nysiis(w)} vs ${ny.encode(w)}")
      assert(PhoneticExtraImpl.refinedSoundex(w) == rs.encode(w),
        s"refined('$w'): ${PhoneticExtraImpl.refinedSoundex(w)} vs ${rs.encode(w)}")
    }
    Seq("MACDONALD", "KNIGHT", "KOBWE", "PHONE", "PFISTER", "SCHMIDT",
      "BROWN", "O'BRIEN", "TESTING", "WASHINGTON", "DAY", "EVE", "HEAVY",
      "WHEEL", "QUIZ", "ZAMBIA", "MARTHA", "SMITH", "NOLAND", "ANDREW",
      "ROBERT", "MITCHELL", "MCDONALD", "SNOW", "TRUE", "MEE", "DIE",
      "ENDT", "CART", "BIRD", "BENT", "BAND", "AH", "HA", "AW", "WA",
      "EVEV", "XY", "A", "KNKN", "SCHSCH", "van gogh", "McArthur",
      "knuth", "schwartz", "pfeiffer", "macy", "mackey").foreach(check)
    val rnd = new scala.util.Random(13)
    (1 to 20000).foreach { _ =>
      val len = 1 + rnd.nextInt(10)
      val w = (0 until len).map { _ =>
        "ABCDEFGHIJKLMNOPQRSTUVWXYZAEIOUHWKNSCHMPF".charAt(rnd.nextInt(41))
      }.mkString
      check(w)
    }
  }

  test("searchSorted/labelBins match hand expectations") {
    import graft.functions.NumericFunctions._
    val df = Seq(-1.0, 0.0, 5.0, 10.0, 45.0, 60.0).toDF("v")
    val got = df.select(labelBins($"v", Seq(0.0, 10.0, 20.0, 30.0, 40.0, 51.0)))
      .as[Int].collect()
    assert(got.toSeq == Seq(-1, 0, 0, 1, 4, -1))
  }

  test("ewma window matches hand computation") {
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0))
      .toDF("k", "i", "v")
    val w = Window.partitionBy($"k").orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df.select(GraftExpressions.ewma($"v", 0.5, w))
      .as[Double].collect()
    assert(got.toSeq == Seq(10.0, 15.0, 22.5)) // 0.5*20+0.5*10, 0.5*30+0.5*15
  }

  test("ewm adjust=true matches the pandas weighted-mean definition") {
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0))
      .toDF("k", "i", "v")
    val w = Window.partitionBy($"k").orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df.select(
        GraftExpressions.ewm($"v", w, adjust = true, alpha = Some(0.5)))
      .as[Double].collect().toSeq
    // y_t = sum((1-a)^i x_{t-i}) / sum((1-a)^i), a = 0.5:
    // t1: 10; t2: (20+0.5*10)/1.5; t3: (30+0.5*20+0.25*10)/1.75
    assert(got(0) == 10.0)
    assert(got(1) == (20.0 + 0.5 * 10.0) / 1.5)
    assert(got(2) == (30.0 + 0.5 * (20.0 + 0.5 * 10.0)) / (1.0 + 0.5 * 1.5))
  }

  test("ewm parameterizations map to the documented alphas") {
    import GraftExpressions.ewmAlpha
    assert(ewmAlpha(alpha = Some(0.3)) == 0.3)
    assert(ewmAlpha(com = Some(4.0)) == 1.0 / 5.0)       // 1/(1+com)
    assert(ewmAlpha(span = Some(9.0)) == 0.2)            // 2/(span+1)
    val hl = ewmAlpha(halflife = Some(2.0))              // 1-exp(-ln2/h)
    assert(math.abs((1.0 - hl) * (1.0 - hl) - 0.5) < 1e-15,
      s"halflife=2 must halve weight over 2 steps, got alpha=$hl")
    // equivalences: same alpha through different parameterizations
    assert(ewmAlpha(com = Some(3.0)) == ewmAlpha(alpha = Some(0.25)))
    assert(ewmAlpha(span = Some(7.0)) == ewmAlpha(alpha = Some(0.25)))
    // exactly-one enforcement and range checks
    intercept[IllegalArgumentException] { ewmAlpha() }
    intercept[IllegalArgumentException] {
      ewmAlpha(alpha = Some(0.5), span = Some(9.0))
    }
    intercept[IllegalArgumentException] { ewmAlpha(alpha = Some(0.0)) }
    intercept[IllegalArgumentException] { ewmAlpha(span = Some(0.5)) }
    intercept[IllegalArgumentException] { ewmAlpha(halflife = Some(0.0)) }
  }

  test("ewm window results are identical across equivalent parameterizations") {
    val df = (1 to 40).map(i => (i % 3, i, (i * 7 % 11).toDouble))
      .toDF("k", "i", "v")
    val w = Window.partitionBy($"k").orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def run(c: org.apache.spark.sql.Column) =
      df.select(c).as[Double].collect().toSeq
    assert(run(GraftExpressions.ewm($"v", w, alpha = Some(0.25))) ==
      run(GraftExpressions.ewm($"v", w, com = Some(3.0))))
    assert(run(GraftExpressions.ewm($"v", w, alpha = Some(0.25))) ==
      run(GraftExpressions.ewm($"v", w, span = Some(7.0))))
    // adjust=false arm reduces to the classic ewma recursion
    assert(run(GraftExpressions.ewm($"v", w, adjust = false,
        alpha = Some(0.3))) ==
      run(GraftExpressions.ewma($"v", 0.3, w)))
  }

  test("PortableHash modular arithmetic is exact (vs BigInt) and md5-60 " +
      "matches the SQL hex pipeline") {
    import graft.plans.PortableHash
    val P = BigInt(PortableHash.P)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val a = rnd.nextLong() >>> 3 // [0, 2^61)
      val b = rnd.nextLong() >>> 3
      assert(BigInt(PortableHash.mulmodP(a, b)) ==
        (BigInt(a) * BigInt(b)).mod(P))
    }
    for (s <- 0 until 32; _ <- 1 to 20) {
      val h = rnd.nextLong() >>> 4 // md5-60 range
      val exp = (BigInt(h) * BigInt(PortableHash.seedA(s)) +
        BigInt(PortableHash.seedB(s))).mod(P)
      assert(BigInt(PortableHash.affine(h, s)) == exp)
    }
    // md5_60("foo") must equal ('0x'||substring(md5('foo'),1,15))::BIGINT
    // = 777945767205416837 (verified in DuckDB), and md5Hex15 the
    // 15-char hex prefix of the same digest
    val foo = "foo".getBytes("UTF-8")
    assert(PortableHash.md5_60(foo) == 777945767205416837L)
    assert(PortableHash.md5Hex15("1,2,3") == "55b84a9d317184f")
  }

  test("JaroWinkler matches the published Winkler fixtures") {
    import graft.plans.JaroWinklerImpl.{jaro, jw}
    def approx(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(approx(jw("MARTHA", "MARHTA"), 0.9611111111111111))
    assert(approx(jaro("MARTHA", "MARHTA"), 0.9444444444444445))
    assert(approx(jw("DIXON", "DICKSONX"), 0.8133333333333332))
    assert(approx(jw("DWAYNE", "DUANE"), 0.8400000000000001))
    // below the 0.7 boost threshold: prefix must NOT boost
    assert(jw("abcdmnopqrstu", "abcdzyxwvutsr") ==
      jaro("abcdmnopqrstu", "abcdzyxwvutsr"))
    assert(jw("", "abc") == 0.0 && jw("", "") == 0.0)
    assert(jw("same", "same") == 1.0)
    // codegen path == interpreted path through a real plan
    val spark2 = spark
    import spark2.implicits._
    val out = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"))
      .toDF("a", "b")
      .select(graft.plans.GraftExpressions.jaroWinkler($"a", $"b"))
      .as[Double].collect()
    assert(approx(out(0), 0.9611111111111111) && approx(out(1), 0.8133333333333332))
  }

  test("Metaphone follows the documented digraph conventions") {
    import graft.plans.MetaphoneImpl.metaphone
    // word-initial exceptions
    assert(metaphone("knight") == "NT")      // KN- drops K; GH silent
    assert(metaphone("wrack") == "RK")       // WR- drops W; CK dedups via K-after-C
    assert(metaphone("xavier") == "SFR")     // X- → S; V → F
    assert(metaphone("whale") == "WL")       // WH- → W
    assert(metaphone("gnome") == "NM")       // GN- drops G
    // digraphs
    assert(metaphone("school") == "SKL")     // SCH → K
    assert(metaphone("christmas") == "KRSTMS".take(4)) // initial CH + cons → K
    assert(metaphone("chair") == "XR")       // plain CH → X
    assert(metaphone("science") == "SNS")    // SC+front drops C
    assert(metaphone("judge") == "JJ")       // DGE → J
    assert(metaphone("sign") == "SN")        // word-final GN: G silent
    assert(metaphone("thumb") == "0M")       // TH → 0; final MB drops B
    assert(metaphone("phone") == "FN")       // PH → F
    assert(metaphone("nation") == "NXN")     // TIO → X
    assert(metaphone("version") == "FRXN")   // SIO → X
    assert(metaphone("mission") == "MSN")    // dup S collapses BEFORE SIO can fire
    assert(metaphone("watch") == "WX")       // TCH drops T
    assert(metaphone("box") == "BKS")        // X → KS
    assert(metaphone("quiz") == "KS")        // Q → K, Z → S
    // silence rules
    assert(metaphone("hawk") == "HK")        // W without following vowel silent
    assert(metaphone("day") == "T")          // final Y silent
    assert(metaphone("yes") == "YS")         // initial Y + vowel kept
    // degenerate inputs
    assert(metaphone("") == "" && metaphone("42!") == "" && metaphone("a") == "A")
    assert(metaphone("Ab2c") == metaphone("abc")) // letters only, case-folded
    // code length capped at 4
    assert(metaphone("palindromes").length == 4)
    // codegen path == interpreted path through a real plan
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("knight", "school", "nation").toDF("t")
      .select(graft.plans.GraftExpressions.metaphone($"t")).as[String].collect()
    assert(out.toSeq == Seq("NT", "SKL", "NXN"))
  }

  test("murmur3_x64_128 h1 matches the reference test vectors (seeds 0 and 7)") {
    // cpp/tests/hashing/murmurhash3_x64_128_test.cpp:43 StringType —
    // expected values generated there from Appleby's smhasher CPU build.
    import graft.plans.HashVariants
    val inputs = Seq(
      "The", "quick", "brown fox", "jumps over the lazy dog.",
      "I am Jack's complete lack of null value",
      "A very long (greater than 128 bytes/characters) to test a very " +
        "long string. 2nd half of the very long string to verify the " +
        "long string hashing happening.",
      "Some multi-byte characters here: ééé", "ééé", "ééé ééé",
      "ééé ééé ééé ééé", "", "!@#$%^&*(())", "0123456789",
      "{}|:<>?,./;[]=-")
    val seed0 = Seq("3481043174314896794", "1981901315483788749",
      "1418748153263580713", "11224732510765974842", "10813495276579975748",
      "8563282101401420087", "7289234017606107350", "225672801045596944",
      "14927688838032769435", "7513581995808204968", "0",
      "14163495587303857889", "4581940570640870180", "18164432652839101653")
      .map(java.lang.Long.parseUnsignedLong)
    val seed7 = Seq("5091211404759866125", "12948345853121693662",
      "14974420008081159223", "4475830656132398742", "15724398074328467356",
      "4091324140202743991", "7130403777725115865", "11087585763075301159",
      "12568262854562899547", "2679775340886828858", "17582832888865278351",
      "5264478748926531221", "8863578460974333747", "11176802453047055260")
      .map(java.lang.Long.parseUnsignedLong)
    val got0 = inputs.toDF("t")
      .select(HashVariants.murmur3x64_128($"t", 0L).getField("h1"))
      .as[Long].collect().toSeq
    assert(got0 == seed0, s"seed 0 mismatch: $got0")
    val got7 = inputs.toDF("t")
      .select(HashVariants.murmur3x64_128($"t", 7L).getField("h1"))
      .as[Long].collect().toSeq
    assert(got7 == seed7, s"seed 7 mismatch: $got7")
  }

  test("xxhash_32 matches the reference test vectors (int/double/string)") {
    // cpp/tests/hashing/xxhash_32_test.cpp:15,28,43 — expected values
    // generated there from Cyan4973/xxHash.
    import graft.plans.HashVariants
    def u(i: Int): Long = Integer.toUnsignedLong(i)
    val ints = Seq(0, 42, 825).toDF("v")
      .select(HashVariants.xxhash32($"v", 0)).as[Int].collect().map(u)
    assert(ints.toSeq == Seq(148298089L, 1161967057L, 1066694813L))
    val dbls = Seq(-8.0, 25.0, 90.0).toDF("v")
      .select(HashVariants.xxhash32($"v", 42)).as[Int].collect().map(u)
    assert(dbls.toSeq == Seq(2276435783L, 3120212431L, 3454197470L))
    val strs = Seq("I", "am", "AI").toDF("v")
      .select(HashVariants.xxhash32($"v", 825)).as[Int].collect().map(u)
    assert(strs.toSeq == Seq(320624298L, 1612654309L, 1409499009L))
  }

  test("tdigest handles DECIMAL input and ignores NaN rows") {
    import graft.plans.TDigestQuantile
    // DecimalType runtime values are o.a.s.sql.types.Decimal, not
    // java.lang.Number — must not ClassCastException
    val dec = spark.range(1, 101)
      .selectExpr("cast(id as decimal(10,2)) as v")
      .agg(TDigestQuantile.of(col("v"), 0.5).as("p50"))
      .as[Double].head()
    assert(dec > 40 && dec < 61, s"decimal median off: $dec")
    // one NaN row must not null the whole digest
    val withNan = Seq(1.0, 2.0, 3.0, Double.NaN, 4.0, 5.0).toDF("v")
      .agg(TDigestQuantile.of($"v", 0.5)).as[Double].head()
    assert(withNan == 3.0, s"NaN poisoned the digest: $withNan")
  }

  test("byte_cast produces exact big/little-endian byte layouts") {
    import graft.plans.HashVariants.byteCast
    val rows = Seq((0x01020304, 0x0102030405060708L, 1.5f, -2.5)).toDF("i", "l", "f", "d")
    val got = rows.select(
      byteCast($"i"), byteCast($"i", bigEndian = false),
      byteCast($"l"), byteCast($"f"), byteCast($"d"))
      .as[(Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .head()
    assert(got._1.toSeq == Seq[Byte](1, 2, 3, 4))
    assert(got._2.toSeq == Seq[Byte](4, 3, 2, 1))
    assert(got._3.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    assert(got._4.toSeq ==
      java.nio.ByteBuffer.allocate(4).putFloat(1.5f).array().toSeq)
    assert(got._5.toSeq ==
      java.nio.ByteBuffer.allocate(8).putDouble(-2.5).array().toSeq)
  }

  test("hash variants: interpreted eval matches codegen") {
    import graft.plans.{HashKernels, HashVariants}
    // kernel (interpreted path) vs the expression evaluated through
    // codegen on a Range scan
    val viaExpr = spark.range(1, 50)
      .selectExpr("concat('k-', id) AS s")
      .select(HashVariants.xxhash32($"s", 7),
        HashVariants.murmur3x64_128($"s", 7).getField("h1"))
      .as[(Int, Long)].collect()
    val direct = (1L until 50L).map { i =>
      val b = s"k-$i".getBytes("UTF-8")
      (HashKernels.xxhash32(b, 7), HashKernels.murmur3x64_128(b, 7L)(0))
    }
    assert(viaExpr.toSeq == direct)
  }
}
