package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokens lower-cases and splits on whitespace runs") {
    val got = Seq("  The Fast  fox ").toDF("text")
      .select(tokens($"text")).as[Seq[String]].head()
    assert(got == Seq("the", "fast", "fox"))
  }

  test("stripHtml drops tags/comments/script/style and decodes entities") {
    val html = "<html><body><!-- nav\nbar --><style>p{}</style>" +
      "<p>Hello&nbsp;<b>world</b></p><script>if(1 < 2){alert('x')}</script>" +
      "R&amp;D &lt;ok&gt; &quot;q&#39;s&quot;</body></html>"
    val got = Seq(html).toDF("text")
      .select(stripHtml($"text")).as[String].head()
    assert(got == "Hello world R&D <ok> \"q's\"", got)
    // tags become word boundaries, never gluing adjacent words
    val glued = Seq("<p>one</p><p>two</p>").toDF("text")
      .select(stripHtml($"text")).as[String].head()
    assert(glued == "one two")
    // plain text passes through modulo whitespace normalization
    val plain = Seq("just  text").toDF("text")
      .select(stripHtml($"text")).as[String].head()
    assert(plain == "just text")
  }

  test("sentences splits after terminal punctuation + whitespace") {
    val got = Seq("One two. Three four! Five? Six")
      .toDF("t").select(graft.functions.TextFunctions.sentences($"t")).as[Seq[String]].head()
    assert(got == Seq("One two.", "Three four!", "Five?", "Six"))
    // no trailing whitespace split → single sentence stays whole
    val one = Seq("no terminal punctuation here")
      .toDF("t").select(graft.functions.TextFunctions.sentences($"t")).as[Seq[String]].head()
    assert(one == Seq("no terminal punctuation here"))
    // documented heuristic: abbreviations over-split
    val abbr = Seq("Dr. Smith arrived.")
      .toDF("t").select(graft.functions.TextFunctions.sentences($"t")).as[Seq[String]].head()
    assert(abbr == Seq("Dr.", "Smith arrived."))
  }

  test("langIdWithMargin exposes the argmax confidence") {
    val got = Seq(
      "the cat and the hat of it",   // clearly en
      "el the"                       // en/es tie → margin 0, en by order
    ).toDF("t")
      .select(langIdWithMargin(tokens($"t")).as("m"))
      .select($"m.lang", $"m.hits", $"m.margin")
      .as[(String, Int, Int)].collect()
    assert(got(0)._1 == "en" && got(0)._3 > 0)
    assert(got(1)._1 == "en" && got(1)._3 == 0, got(1).toString)
  }

  test("fingerprint is invariant to token order and duplication") {
    val df = Seq("a b c", "c b a a", "a b d").toDF("text")
      .select(fingerprint($"text").as("fp")).as[String].collect()
    assert(df(0) == df(1))
    assert(df(0) != df(2))
  }

  test("minhash signatures are equal for identical token sets") {
    val df = Seq("x y z", "z y x").toDF("text")
      .withColumn("toks", array_distinct(tokens($"text")))
      .withColumn("toks", sort_array($"toks"))
      .select(minhashSig("toks", 16)).as[Seq[Long]].collect()
    assert(df(0) == df(1))
    assert(df(0).length == 16)
  }

  test("jaccard matches hand computation") {
    val got = Seq(("a b c d", "c d e f")).toDF("x", "y")
      .select(jaccard(tokens($"x"), tokens($"y"))).as[Double].head()
    assert(got == 2.0 / 6.0) // {c,d} over {a,b,c,d,e,f}
  }

  test("simhash of identical docs has hamming distance 0, distinct docs differ") {
    val df = Seq("p q r", "p q r", "completely different words here").toDF("text")
      .withColumn("toks", tokens($"text"))
      .select(simhash60("toks").as("sh")).as[Long].collect()
    assert(df(0) == df(1))
    assert(df(0) != df(2))
  }

  test("langId picks the profile with most hits") {
    val got = Seq("the cat and the hat", "el sort y sort los").toDF("text")
      .select(langId(tokens($"text"))).as[String].collect()
    assert(got(0) == "en")
    assert(got(1) == "es")
  }

  test("charNgrams produces sliding character windows") {
    val got = Seq("abcd").toDF("s")
      .select(charNgrams("s", 2)).as[Seq[String]].head()
    assert(got == Seq("ab", "bc", "cd"))
  }

  test("tokenNgrams joins sliding token windows with the out-of-band separator") {
    val sep = graft.functions.TextFunctions.NgramSep
    val got = Seq("a b c").toDF("text").withColumn("toks", tokens($"text"))
      .select(tokenNgrams("toks", 2)).as[Seq[String]].head()
    assert(got == Seq(s"a${sep}b", s"b${sep}c"))
    // the delimiter fix: docs "a_b" (one token) and "a b" (two tokens)
    // must build DIFFERENT shingles — '_' made them collide end-to-end
    val sh = Seq("a_b", "a b").toDF("text").withColumn("toks", tokens($"text"))
      .select(graft.functions.TextFunctions.shingles("toks", 3))
      .as[Seq[String]].collect()
    assert(sh(0) != sh(1), s"delimiter collision: ${sh.toSeq}")
  }

  test("tokenizeWithVocabulary maps tokens to vocab row indices, unknowns to default") {
    import graft.operators.VocabTokenize
    val vocab = Seq("and", "cat", "hat", "the")
    val got = Seq("the cat and the zebra").toDF("text")
      .select(VocabTokenize.tokenizeWithVocabulary($"text", vocab).as("ids"))
      .as[Seq[Int]].head()
    assert(got == Seq(3, 1, 0, 3, -1))
  }

  test("tokenizeWithVocabulary keeps ids per document row") {
    import graft.operators.VocabTokenize
    val docs = Seq((0L, "the cat and the zebra"), (1L, "hat the"))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        VocabTokenize.tokenizeWithVocabulary($"text",
          Seq("and", "cat", "hat", "the")).as("ids"))
      .orderBy($"doc_id").as[(Long, Seq[Int])].collect().toSeq
    assert(got == Seq(0L -> Seq(3, 1, 0, 3, -1), 1L -> Seq(2, 3)))
  }

  test("doc_token_ids: no row for NULL text, [-1] for empty text") {
    // rows pinned from the gate's DuckDB oracle SQL over the same five
    // documents: it emits no row for a document without tokens, and
    // empty or blank text splits to one empty token (default id -1)
    val dir = java.nio.file.Files.createTempDirectory("graft-tokids").toString
    Seq[(Long, String)]((1L, "the cat sat on the mat"), (2L, null), (3L, ""),
        (4L, "   "), (5L, "Cat  THE dog at"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("doc_token_ids")(spark, dir)
      .as[(Long, String, Int, Int)].collect().toSeq
    // vocab: cat 0, dog 1, mat 2, sat 3, the 4
    assert(got == Seq((1L, "4 0 3 -1 4 2", 1, 6), (3L, "-1", 1, 1),
      (4L, "-1", 1, 1), (5L, "0 4 1 -1", 1, 4)))
  }

  test("buildVocabulary numbers tokens in UTF-8 byte order") {
    // U+FF41 is EF BD A1 in UTF-8 and U+1F600 is F0 9F 98 80, so Spark's
    // and DuckDB's order puts the fullwidth token first; UTF-16 order
    // (the surrogate D83D sorts below FF41) would swap them
    import graft.operators.VocabTokenize
    val docs = Seq("\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00 abc",
      "\uFF41\uFF41\uFF41 ab abc").toDF("text")
    val vocab = VocabTokenize.buildVocabulary(docs, "text", minTokenLength = 3)
    assert(vocab == Seq("abc", "\uFF41\uFF41\uFF41",
      "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00"))
    val ids = docs.select(VocabTokenize.tokenizeWithVocabulary($"text", vocab))
      .as[Seq[Int]].collect().toSeq
    assert(ids == Seq(Seq(2, 0), Seq(1, -1, 0)))
  }

  test("detokenize reproduces the reference's tokenize.hpp examples") {
    import graft.operators.VocabTokenize
    // nvtext/tokenize.hpp:190-199: s=[hello,world,one,two,three]
    val toks = Seq(("hello", 0), ("world", 1), ("one", 2), ("two", 3), ("three", 4))
    def run(rowIdx: Seq[Int]): Map[Int, String] = {
      val df = toks.zip(rowIdx).map { case ((t, pos), r) => (t, r, pos) }
        .toDF("tok", "row_idx", "pos")
      VocabTokenize.detokenize(df, "tok", "row_idx", "pos")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    }
    assert(run(Seq(0, 0, 1, 1, 1)) ==
      Map(0 -> "hello world", 1 -> "one two three"))
    assert(run(Seq(0, 2, 1, 1, 0)) ==
      Map(0 -> "hello three", 1 -> "one two", 2 -> "world"))
  }

  test("wrap breaks at whitespace within width, never splits words") {
    val got = Seq("the quick brown fox jumps").toDF("s")
      .select(wrap($"s", 10)).as[String].head()
    assert(got == "the quick\nbrown fox\njumps")
    // line longer than width stays whole (words are not split)
    val long = Seq("extraordinarily big").toDF("s")
      .select(wrap($"s", 5)).as[String].head()
    assert(long == "extraordinarily\nbig")
  }

  test("findMultiple returns 0-based positions, -1 when absent") {
    val got = Seq("hello world").toDF("s")
      .select(findMultiple($"s", Seq("world", "o", "zzz"))).as[Seq[Int]].head()
    assert(got == Seq(6, 4, -1))
  }

  test("strPartition splits on first separator; absent sep yields empty tail") {
    val got = Seq("a-b-c", "nodash").toDF("s")
      .select(strPartition($"s", "-").as("p"))
      .select($"p.head", $"p.sep", $"p.tail")
      .as[(String, String, String)].collect()
    assert(got(0) == (("a", "-", "b-c")))
    assert(got(1) == (("nodash", "", "")))
  }

  test("strRpartition splits on LAST separator; absent sep yields empty head") {
    // fixtures mirror the reference's rpartition test rows
    // (cpp/tests/strings/split_tests.cpp:1013): "a_bc_déf" splits at the
    // LAST underscore; a trailing separator leaves an empty tail;
    // a multi-char separator resolves its last occurrence
    val got = Seq("a_bc_déf", "a__bc", "_ab_cd", "ab_cd_", "nodash", "")
      .toDF("s")
      .select(strRpartition($"s", "_").as("p"))
      .select($"p.head", $"p.sep", $"p.tail")
      .as[(String, String, String)].collect()
    assert(got(0) == (("a_bc", "_", "déf")))
    assert(got(1) == (("a_", "_", "bc")))
    assert(got(2) == (("_ab", "_", "cd")))
    assert(got(3) == (("ab_cd", "_", "")))
    assert(got(4) == (("", "", "nodash")))
    assert(got(5) == (("", "", "")))
    val multi = Seq("xabyabz").toDF("s")
      .select(strRpartition($"s", "ab").as("p"))
      .select($"p.head", $"p.sep", $"p.tail")
      .as[(String, String, String)].head()
    assert(multi == (("xaby", "ab", "z")))
  }

  test("partition pair: null input propagates to a NULL struct; " +
      "non-BMP separators match (code-point reverse); empty sep rejected") {
    // null in -> null struct out (reference null-propagation), both ways
    val nulls = Seq[String](null).toDF("s")
      .select(strPartition($"s", "-").as("p"), strRpartition($"s", "-").as("r"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // U+1D11E (musical G clef) is a surrogate PAIR in UTF-16: a char
    // reverse of the separator would split it and never match Spark's
    // code-point reverse; a code-point reverse finds the last hit
    val clef = "𝄞"
    val gotNb = Seq(s"a${clef}b${clef}c").toDF("s")
      .select(strRpartition($"s", clef).as("p"))
      .select($"p.head", $"p.sep", $"p.tail")
      .as[(String, String, String)].head()
    assert(gotNb == ((s"a${clef}b", clef, "c")))
    // multi-char separator CONTAINING a non-BMP char
    val sep2 = s"x${clef}y"
    val gotNb2 = Seq(s"A${sep2}B${sep2}C").toDF("s")
      .select(strRpartition($"s", sep2).as("p"))
      .select($"p.head", $"p.sep", $"p.tail")
      .as[(String, String, String)].head()
    assert(gotNb2 == ((s"A${sep2}B", sep2, "C")))
    // first-occurrence twin shares the code-point length arithmetic
    val gotFb = Seq(s"a${clef}b${clef}c").toDF("s")
      .select(strPartition($"s", clef).as("p"))
      .select($"p.head", $"p.sep", $"p.tail")
      .as[(String, String, String)].head()
    assert(gotFb == (("a", clef, s"b${clef}c")))
    // empty separator: fail loudly like pandas/cudf, not (whole,"","")
    intercept[IllegalArgumentException](strPartition($"s", ""))
    intercept[IllegalArgumentException](strRpartition($"s", ""))
  }

  test("url encode/decode round trip and parse_url components") {
    val got = Seq("a b&c=d/é").toDF("s")
      .select(url_encode($"s").as("e"),
        url_decode(url_encode($"s")).as("rt"),
        parse_url(lit("https://host.example:8080/p/q?x=1#f"), lit("HOST")).as("h"),
        parse_url(lit("https://host.example:8080/p/q?x=1#f"), lit("PATH")).as("p"),
        parse_url(lit("https://host.example:8080/p/q?x=1"), lit("QUERY"), lit("x")).as("qx"))
      .as[(String, String, String, String, String)].head()
    assert(got._1 == "a+b%26c%3Dd%2F%C3%A9")
    assert(got._2 == "a b&c=d/é")
    assert(got._3 == "host.example" && got._4 == "/p/q" && got._5 == "1")
  }

  test("ngramsTokenize fuses tokenize and ngrams; short docs yield empty") {
    val got = Seq("The Quick  brown fox").toDF("s")
      .select(ngramsTokenize($"s", 2)).as[Seq[String]].head()
    assert(got == Seq("the_quick", "quick_brown", "brown_fox"))
    val short = Seq("single").toDF("s")
      .select(ngramsTokenize($"s", 2)).as[Seq[String]].head()
    assert(short == Seq.empty)
  }

  test("UnicodeNormalize NFC composes decomposed sequences") {
    import graft.plans.UnicodeNormalize
    // "é" as e + COMBINING ACUTE (NFD) must compose to U+00E9 (NFC)
    val decomposed = "Café"
    val got = Seq(decomposed).toDF("s")
      .select(UnicodeNormalize.nfc($"s")).as[String].head()
    assert(got == "Café")
    assert(got.length == 4 && decomposed.length == 5)
  }

  test("normalizeText lowers, de-accents, squeezes whitespace") {
    val got = Seq("  Café  du\t MONDE Über\n").toDF("s")
      .select(normalizeText($"s")).as[String].head()
    assert(got == "cafe du monde uber")
    // NFD input collapses to the same normalized form (dedup property)
    val nfd = Seq("Café du MONDE Über").toDF("s")
      .select(normalizeText($"s")).as[String].head()
    assert(nfd == got)
  }

  test("CharacterNormalize pads punctuation/CJK, strips controls, protects special tokens") {
    import graft.plans.CharacterNormalize
    val got = Seq("Hello, world! 你好").toDF("s")
      .select(CharacterNormalize($"s", doLowerCase = true)).as[String].head()
    assert(got == "hello ,  world !   你  好 ")
    val tok = Seq("a [MASK] b [NOPE] c").toDF("s")
      .select(CharacterNormalize($"s", doLowerCase = true,
        specialTokens = Seq("[MASK]"))).as[String].head()
    // [MASK] survives verbatim; [NOPE] is not protected so brackets pad
    assert(tok.contains(" [MASK] "))
    assert(tok.contains(" [ nope ] "))
  }

  test("WordPiece and BPE emit vocab ids via idsFor composition") {
    import graft.operators.VocabTokenize
    import graft.plans.{BpeEncode, WordPieceTokenize}
    val wpVocab = Seq("un", "##aff", "##able", "aff", "the")
    val wp = Seq("the unaffable zzz").toDF("s")
      .select(VocabTokenize.idsFor(
        WordPieceTokenize($"s", wpVocab), wpVocab).as("ids"))
      .as[Seq[Int]].head()
    // pieces: the, un, ##aff, ##able, [UNK] -> ids 4, 0, 1, 2, -1
    assert(wp == Seq(4, 0, 1, 2, -1))
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "r", "low" -> "er")
    val bpeVocab = Seq("er", "low", "lower", "n", "e", "w")
    val bpe = Seq("lower low newer").toDF("s")
      .select(VocabTokenize.idsFor(BpeEncode($"s", merges), bpeVocab).as("ids"))
      .as[Seq[Int]].head()
    // pieces: lower, low, n, e, w, er -> ids 2, 1, 3, 4, 5, 0
    assert(bpe == Seq(2, 1, 3, 4, 5, 0))
  }

  test("padCenter splits by width parity: odd width puts the extra fill LEFT") {
    import graft.functions.TextFunctions.padCenter
    // Reference example (pad_impl.cuh side_type::BOTH): width=7 on
    // "foxx" (pad=3) right-justifies -> "++foxx+".
    def center(s: String, w: Int, f: String): String =
      Seq(s).toDF("s").select(padCenter($"s", w, f)).as[String].head()
    assert(center("foxx", 7, "+") == "++foxx+")       // odd width, odd pad: extra LEFT
    assert(center("fox", 7, "+") == "++fox++")        // odd width, even pad: symmetric
    assert(center("fox", 6, "+") == "+fox++")         // even width, odd pad: extra RIGHT
    assert(center("foxx", 6, "+") == "+foxx+")        // even width, even pad
    assert(center("abcdefgh", 6, "+") == "abcdefgh")  // >= width: pass-through
    // Python parity: "ab".center(5,'-') == "--ab-"; "ab".center(4,'-') == "-ab-"
    assert(center("ab", 5, "-") == "--ab-")
    assert(center("ab", 4, "-") == "-ab-")
    // null propagates
    val n = Seq[Option[String]](None).toDF("s")
      .select(padCenter($"s", 5, "*")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("dominantScript classifies real scripts with priority tie-break") {
    import graft.functions.TextFunctions.dominantScript
    val got = Seq(
      "hello world",            // latin
      "привет мир",             // cyrillic
      "你好世界",                 // cjk (han)
      "こんにちは",               // cjk (kana)
      "مرحبا بالعالم",          // arabic
      "καλημέρα",               // greek
      "café déjà vu",           // latin incl. accents
      "2026 08 13",             // digits only
      "!!! ???",                // nothing listed -> other
      "abc привет мир x"        // 4 latin vs 9 cyrillic -> cyrillic
    ).toDF("s").select(dominantScript($"s")).as[String].collect().toSeq
    assert(got == Seq("latin", "cyrillic", "cjk", "cjk", "arabic",
      "greek", "latin", "digit", "other", "cyrillic"))
  }

  test("listRepr renders null elements and null inner lists as na_rep") {
    // convert_lists.hpp format_list_column: na_rep applies at EVERY
    // depth — a NULL inner list must render, not silently vanish
    val flat = Seq(1).toDF("x")
      .select(listRepr(array(lit(1), lit(null).cast("int"), lit(3))))
      .as[String].head
    assert(flat == "[1,NULL,3]")
    val nested = Seq(1).toDF("x")
      .select(listReprNested(
        array(array(lit(1)), lit(null).cast("array<int>"), array(lit(2)))))
      .as[String].head
    assert(nested == "[[1],NULL,[2]]")
    val custom = Seq(1).toDF("x")
      .select(listReprNested(
        array(lit(null).cast("array<int>")), nullToken = "NA"))
      .as[String].head
    assert(custom == "[NA]")
  }
}
