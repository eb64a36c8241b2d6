package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox"),
    (1L, "the quick brown fox"),          // exact dup of 0
    (2L, "fox brown quick the"),          // same token set as 0
    (3L, "entirely unrelated words only"),
    (4L, "the quick brown fox jumps")     // near-dup of 0
  ).toDF("doc_id", "text")

  test("exactGroups collapses byte-identical docs") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(g.length == 4)
    assert(g(0).getAs[Long]("keep_id") == 0L && g(0).getAs[Long]("n_dups") == 2L)
  }

  test("fingerprintGroups collapses same-token-set docs") {
    val g = Dedup.fingerprintGroups(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(g.length == 3)
    assert(g(0).getAs[Long]("n_docs") == 3L) // 0, 1, 2
  }

  test("exactSurvivors keeps the minimum id per digest") {
    val ids = Dedup.exactSurvivors(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("jaccardPairsExact finds pairs above threshold with exact values") {
    val pairs = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.79)
      .orderBy("id_a", "id_b").collect()
    val asMap = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // {the,quick,brown,fox} vs itself = 1.0; vs +jumps = 4/5
    assert(asMap((0L, 1L)) == 1.0)
    assert(asMap((0L, 2L)) == 1.0)
    assert(asMap((0L, 4L)) == 0.8)
    assert(!asMap.contains((0L, 3L)))
  }

  test("minhashPairs finds the identical and permuted pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(pairs.contains((1L, 2L)))
  }

  test("minhashNgramPairs is order-sensitive and has recall 1.0 vs exact shingle jaccard") {
    val pairs = Dedup.minhashNgramPairs(docs, "doc_id", "text",
        n = 2, numHashes = 32, bands = 8, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical text -> identical shingles -> identical signature
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    // PERMUTED tokens share no word bigrams: must NOT pair (the
    // distinction vs token-set minhashPairs, which pairs 0-2)
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)))

    // recall 1.0: every exact-shingle-jaccard pair >= threshold is found
    def sh2(t: String): Set[String] =
      t.split("\\s+").sliding(2).map(_.mkString("_")).toSet
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exact = for {
      a <- texts.keys.toSeq; b <- texts.keys.toSeq if a < b
      ja = sh2(texts(a)); jb = sh2(texts(b))
      j = ja.intersect(jb).size.toDouble / ja.union(jb).size
      if j >= 0.99
    } yield (a, b)
    exact.foreach { p => assert(pairs.contains(p), s"missed exact pair $p") }
  }

  test("duplicate ids (dirty input) never produce self-pairs") {
    // two rows share id 7 with different texts — the strict a.id < b.id
    // of the old join formulation must survive the posting-list rewrite
    val dirty = Seq(
      (7L, "alpha beta gamma"),
      (7L, "alpha beta delta"),
      (8L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairsExact(dirty, "doc_id", "text", threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(jac.forall { case (a, b) => a != b }, s"self-pair in $jac")
    val sim = Dedup.simhashPairs(dirty, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(sim.forall { case (a, b) => a != b }, s"self-pair in $sim")
    val mh = Dedup.minhashPairs(dirty, "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(mh.forall { case (a, b) => a != b }, s"self-pair in $mh")
  }

  test("dedupDelta drops corpus dups and keeps first within the delta") {
    val corpus = Seq((0L, "seen before"), (1L, "also seen")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "seen before"),   // exact dup of corpus 0 -> dropped
      (11L, "brand new"),     // survives
      (12L, "brand new"),     // later in-delta copy of 11 -> dropped
      (13L, "another novel")  // survives
    ).toDF("doc_id", "text")
    val got = Dedup.dedupDelta(corpus, delta, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(11L, 13L))
  }

  test("nearDupDeltaPairs finds planted cross-corpus near-dups only") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon"), // identical to corpus 0
      (11L, "six seven eight nine ten"),       // novel
      (12L, "one two three four five")         // identical to corpus 1
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupDeltaPairs(corpus, delta, "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.9)
      .select("delta_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 0L), (12L, 1L)))
  }

  test("simhashPairs reports hamming distance 0 for identical docs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 1L)) == 0)
    assert(pairs((0L, 2L)) == 0)
  }

  test("duplicatedGrams matches brute force on random corpora " +
    "(small alphabet, heavy rank ties)") {
    import graft.operators.SubstringDedup
    val rnd = new scala.util.Random(4114)
    for (trial <- 0 until 6) {
      val minWidth = Seq(5, 8, 9, 15, 16, 17)(trial)
      val nDocs = 8 + rnd.nextInt(12)
      val docs = (0 until nDocs).map { i =>
        val len = rnd.nextInt(80) // includes docs shorter than minWidth
        (i.toLong, new String(Array.fill(len)(('a' + rnd.nextInt(3)).toChar)))
      }
      val brute = docs
        .flatMap { case (_, t) => (0 to t.length - minWidth)
          .map(p => t.substring(p, p + minWidth)) }
        .groupBy(identity).collect { case (g, occ) if occ.size >= 2 =>
          g -> occ.size.toLong }
        .toMap
      val got = SubstringDedup
        .duplicatedGrams(docs.toDF("doc_id", "text"), "doc_id", "text",
          minWidth)
        .as[(String, Long)].collect().toMap
      assert(got == brute,
        s"trial $trial minWidth=$minWidth: " +
          s"missing=${(brute.keySet -- got.keySet).take(3)} " +
          s"extra=${(got.keySet -- brute.keySet).take(3)}")
    }
  }

  test("duplicatedGrams handles a hot clique without pair fan-out " +
    "and matches a brute-force 15-gram count") {
    import graft.operators.SubstringDedup
    val sentinel = "HOT-CLIQUE-SENTINEL-GRAM" // 24 chars -> 10 15-grams
    val m = 500
    val rnd = new scala.util.Random(99)
    val docs = (0 until m).map { i =>
      val own = new String(Array.fill(40)(('a' + rnd.nextInt(26)).toChar))
      (i.toLong, s"$own $sentinel")
    }.toDF("doc_id", "text")
    val got = SubstringDedup
      .duplicatedGrams(docs, "doc_id", "text", minWidth = 15)
      .as[(String, Long)].collect().toMap
    // every 15-gram of the sentinel occurs in all m docs; the random
    // 40-char prefixes are (overwhelmingly) unique. The clique is ONE
    // group of m rows — count says m, and no pair row ever existed.
    val sentinelGrams = (0 to sentinel.length - 15)
      .map(p => sentinel.substring(p, p + 15))
    sentinelGrams.foreach { g =>
      assert(got.get(g).contains(m.toLong), s"gram '$g': ${got.get(g)}")
    }
    // exact key set and counts on a small slice, against a brute-force
    // count of its 15-grams
    val small = docs.filter($"doc_id" < 40)
    val brute = small.as[(Long, String)].collect()
      .flatMap { case (_, t) => (0 to t.length - 15).map(p => t.substring(p, p + 15)) }
      .groupBy(identity).collect { case (g, o) if o.length >= 2 =>
        g -> o.length.toLong }.toMap
    val viaGlobal = SubstringDedup
      .duplicatedGrams(small, "doc_id", "text", minWidth = 15)
      .as[(String, Long)].collect().toMap
    assert(viaGlobal == brute,
      s"missing=${(brute.keySet -- viaGlobal.keySet).take(3)} " +
        s"extra=${(viaGlobal.keySet -- brute.keySet).take(3)}")
  }

  test("duplicatedGrams is UTF-16-consistent on surrogate-pair content") {
    import graft.operators.SubstringDedup
    // "a😀b😀c😀d😀e😀" = 5 BMP chars + 5 astral chars = 15 UTF-16
    // units; positions and the gram key (from which dup_text is
    // decoded) both index UTF-16 units, so a gram whose
    // boundary would split a surrogate pair under code-point
    // arithmetic must still round-trip byte-identically
    val emoji = "a😀b😀c😀d😀e😀"
    assert(emoji.length == 15)
    val docs = Seq((0L, "xx" + emoji + "yy"), (1L, "zz" + emoji + "ww"))
      .toDF("doc_id", "text")
    val got = SubstringDedup
      .duplicatedGrams(docs, "doc_id", "text", minWidth = 15)
      .as[(String, Long)].collect().toMap
    // brute force in the same UTF-16 space
    val brute = Seq("xx" + emoji + "yy", "zz" + emoji + "ww")
      .flatMap(t => (0 to t.length - 15).map(p => t.substring(p, p + 15)))
      .groupBy(identity).collect { case (g, o) if o.size >= 2 =>
        g -> o.size.toLong }.toMap
    assert(got == brute)
    assert(got.get(emoji).contains(2L))
  }

  test("many-doc parity with brute force incl. surrogate pairs split " +
    "at every gram offset") {
    import graft.operators.SubstringDedup
    // 150-400-char small-alphabet docs plus two docs of surrogate pairs, so
    // grams start at every offset of a pair: a gram that splits a pair
    // must still group with its exact UTF-16 twins and never with a
    // different lone half. Results must equal the brute force.
    val rnd = new scala.util.Random(4242)
    val base = (0 until 12).map(i => (i.toLong,
      new String(Array.fill(150 + rnd.nextInt(250))(
        ('a' + rnd.nextInt(3)).toChar))))
    val emoji = "😀😁😂🤣😃" * 12 // 120 UTF-16 units of surrogate pairs
    val corpus = base ++ Seq((100L, "A" + emoji + "tail"),
      (101L, "B" + emoji + "liat"))
    val got = SubstringDedup
      .duplicatedGrams(corpus.toDF("doc_id", "text"), "doc_id", "text",
        minWidth = 15)
      .as[(String, Long)].collect().toMap
    // A gram whose boundary SPLITS a surrogate pair carries a lone
    // half, which Spark's UTF-8 string layer projects to '?' on
    // output (invalid UTF-8 otherwise) — counts and grouping are
    // computed in UTF-16 space and unaffected; only the reported
    // text takes the projection. Apply the same projection to the
    // brute force.
    def lossy(s: String): String = s.zipWithIndex.map { case (c, i) =>
      val paired =
        if (Character.isHighSurrogate(c))
          i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))
        else if (Character.isLowSurrogate(c))
          i > 0 && Character.isHighSurrogate(s.charAt(i - 1))
        else true
      if (paired) c else '?'
    }.mkString
    val brute = corpus.map(_._2)
      .flatMap(t => (0 to t.length - 15).map(p => t.substring(p, p + 15)))
      .groupBy(identity).collect { case (g, o) if o.size >= 2 =>
        lossy(g) -> o.size.toLong }.toMap
    assert(got.size == brute.size,
      s"missing=${(brute.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- brute.keySet).take(3)}")
    assert(got == brute)
  }

  test("gate corpus is BMP-only (hot-clique oracle exactness assumption)") {
    // The doc_hotclique_* oracles index grams with DuckDB substr/len
    // (CODE POINTS) while the engine indexes UTF-16 units; the two
    // agree exactly iff the corpus has no astral-plane characters.
    // Pin that assumption on the gate feed — if the testdata generator
    // ever plants astral chars, this fails before the gate can go
    // spuriously red. Engine astral correctness itself is covered by
    // the surrogate-pair specs above + the utf16-prefilter mutation.
    import org.apache.spark.sql.functions.col
    assume(TestData.available("0.01"),
      s"gate corpus absent at ${TestData.sf("0.01")}")
    val astral = graft.Tables.documents(spark, TestData.sf("0.01"))
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
      .filter { case (_, t) => t.exists(Character.isSurrogate) }
    assert(astral.isEmpty,
      s"astral-plane chars in gate corpus docs ${astral.take(3).map(_._1).toSeq}")
  }

  test("duplicatedGramsPair matches brute force cross-source grams " +
    "and survives id reuse across sources") {
    import graft.operators.SubstringDedup
    val rnd = new scala.util.Random(77)
    def corpus(n: Int) = (0 until n).map(i => (i.toLong,
      new String(Array.fill(30 + rnd.nextInt(40))(
        ('a' + rnd.nextInt(3)).toChar))))
    // deliberately REUSE ids 0..9 in both sources with different text
    val train = corpus(12)
    val eval = corpus(10)
    val m = 7
    def grams(t: String) =
      (0 to t.length - m).map(p => t.substring(p, p + m))
    val cnt0 = train.flatMap(d => grams(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val cnt1 = eval.flatMap(d => grams(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val brute = (cnt0.keySet & cnt1.keySet)
      .map(g => g -> (cnt0(g), cnt1(g))).toMap
    val got = SubstringDedup.duplicatedGramsPair(
        train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
        "doc_id", "text", m)
      .as[(String, Long, Long)].collect()
      .map { case (g, a, b) => g -> (a, b) }.toMap
    assert(got == brute,
      s"missing=${(brute.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- brute.keySet).take(3)}")
  }

  // brute-force maximal duplicated spans: duplicated-gram lead
  // positions -> merge [p, p+m) covers (touching intervals merge —
  // the engine breaks only where a lead clears the running peak)
  private def bruteSpans(leadsByDoc: Map[String, Seq[Int]], m: Int)
      : Set[(String, Int, Int, Int)] =
    leadsByDoc.toSeq.flatMap { case (id, leads) =>
      leads.sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: tail, p) if p <= e => (s, math.max(e, p + m)) :: tail
        case (acc, p) => (p, p + m) :: acc
      }.map { case (s, e) => (id, s, e, e - s) }
    }.toSet

  test("duplicatedSpans matches brute force incl. surrogate pairs and " +
    "within-doc overlapping repeats") {
    import graft.operators.SubstringDedup
    val rnd = new scala.util.Random(41)
    val astral = "😀😁" // 2 astral chars, 4 UTF-16 units
    def blob(n: Int) =
      new String(Array.fill(n)(('a' + rnd.nextInt(4)).toChar))
    val shared = "the quick brown fox jumps over it"
    val corpus = Seq(
      (0L, blob(60) + shared + blob(40)),
      (1L, blob(50) + shared + astral + shared.reverse),
      (2L, "zz" + ("abcabcabc" * 6) + "qq"), // within-doc overlap only
      (3L, blob(70)))
    val m = 9
    val counts = corpus
      .flatMap { case (_, t) =>
        (0 to t.length - m).map(p => t.substring(p, p + m)) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val leads = corpus.map { case (id, t) =>
      id.toString -> (0 to t.length - m)
        .filter(p => counts(t.substring(p, p + m)) >= 2)
    }.toMap
    val expect = bruteSpans(leads, m)
    val got = SubstringDedup.duplicatedSpans(
        corpus.toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(String, Int, Int, Int)].collect().toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(expect.exists(_._1 == "2"), "fixture must cover within-doc runs")
  }

  test("contaminatedSpans matches brute force and survives id reuse " +
    "across sources") {
    import graft.operators.SubstringDedup
    val rnd = new scala.util.Random(43)
    def blob(n: Int) =
      new String(Array.fill(n)(('a' + rnd.nextInt(3)).toChar))
    val m = 7
    // ids 0..4 reused in both sources with different text
    val train = (0L until 10L).map(i => (i, blob(40 + rnd.nextInt(30))))
    val eval = (0L until 5L).map(i => (i, blob(40 + rnd.nextInt(30))))
    val evalGrams = eval.flatMap { case (_, t) =>
      (0 to t.length - m).map(p => t.substring(p, p + m)) }.toSet
    val leads = train.map { case (id, t) =>
      id.toString -> (0 to t.length - m)
        .filter(p => evalGrams(t.substring(p, p + m)))
    }.toMap
    val expect = bruteSpans(leads, m)
    val got = SubstringDedup.contaminatedSpans(
        train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
        "doc_id", "text", m)
      .as[(String, Int, Int, Int)].collect().toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(expect.nonEmpty, "fixture produced no contaminated spans")
    // deletion-list contract: cutting the spans removes every bridge —
    // no m-gram of the residual train text appears in eval
    val spansById = got.groupBy(_._1)
    train.foreach { case (id, t) =>
      val cut = spansById.getOrElse(id.toString, Set())
        .toSeq.sortBy(_._2)
      val kept = new StringBuilder
      var at = 0
      cut.foreach { case (_, s, e, _) =>
        kept.append(t.substring(at, s)); at = e }
      kept.append(t.substring(at))
      // grams fully inside kept segments must be clean; grams that
      // straddled a cut were destroyed with it
      val residual = (0 to kept.length - m)
        .map(p => kept.substring(p, p + m))
      // a residual gram may still appear in eval if it was FORMED by
      // concatenating across a cut — the deletion contract is about
      // original-text grams, so check those instead
      val survivingOriginal = {
        val covered = Array.fill(t.length)(false)
        cut.foreach { case (_, s, e, _) =>
          (s until e).foreach(covered(_) = true) }
        (0 to t.length - m).filter(p => !(p until p + m).exists(covered))
          .map(p => t.substring(p, p + m))
      }
      assert(!survivingOriginal.exists(evalGrams),
        s"doc $id still bridges into eval after cutting spans")
      assert(residual.nonEmpty || t.length < m || cut.nonEmpty)
    }
  }
}
