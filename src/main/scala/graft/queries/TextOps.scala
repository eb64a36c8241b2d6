package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Embeddings, Multimodal, SegmentDedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators over documents/embeddings (SURVEY.md
  * §2.11 + north star: dedup, similarity search, text analysis,
  * multimodal plumbing).
  *
  * The DuckDB token expression `string_split_regex(lower(trim(text)),
  * '\s+')` mirrors [[graft.functions.TextFunctions.tokens]] exactly.
  * MinHash/SimHash queries have no oracle (xxhash64 is engine-native);
  * their ground truth is the exact-jaccard oracle query plus unit tests.
  */
object TextOps extends QueryPack {

  private val toksSql = raw"string_split_regex(lower(trim(text)), '\s+')"

  /** [[toksSql]] over an arbitrary input expression — shared with
    * StreamPack's curation gate so tokenization can never drift. */
  private[queries] def toksSqlOf(expr: String): String =
    raw"string_split_regex(lower(trim($expr)), '\s+')"

  /** Exact dedup groups by content digest (north star: exact dedup). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Bag-of-words fingerprint dedup groups. */
  def dedupFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("keep_id"))

  val dedupFingerprintSql: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp,
       |  min(doc_id) AS keep_id, count(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Unicode character normalization (normalize.hpp:51-90): NFC compose,
    * lower, strip accents, squeeze whitespace. DuckDB's nfc_normalize +
    * strip_accents make the whole pipeline oracle-checkable. */
  def normalize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.normalizeText(col("text")).as("norm"))
      .orderBy(col("doc_id"))

  val normalizeSql: String =
    raw"""SELECT doc_id,
         |  trim(regexp_replace(strip_accents(lower(nfc_normalize(text))),
         |    '\s+', ' ', 'g')) AS norm
         |FROM documents ORDER BY doc_id""".stripMargin

  /** replace_tokens + filter_tokens (nvtext/replace.hpp:23,86): mapped
    * token substitution, short-token drop, and short-token marking —
    * all plan-literal map/lambda compositions (zero UDFs, zero
    * shuffles). */
  def tokenReplace(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{filterTokens, replaceTokens}
    Tables.documents(s, dir)
      .select(col("doc_id"),
        replaceTokens(col("text"),
          Map("the" -> "a", "fast" -> "quick")).as("replaced"),
        filterTokens(col("text"), 4).as("filtered"),
        filterTokens(col("text"), 4, "_").as("marked"))
      .orderBy(col("doc_id"))
  }

  val tokenReplaceSql: String =
    raw"""SELECT doc_id,
         |  array_to_string(list_transform(string_split_regex(trim(text), '\s+'),
         |    t -> CASE WHEN t = 'the' THEN 'a'
         |              WHEN t = 'fast' THEN 'quick' ELSE t END), ' ')
         |    AS replaced,
         |  array_to_string(list_filter(string_split_regex(trim(text), '\s+'),
         |    t -> length(t) >= 4), ' ') AS filtered,
         |  array_to_string(list_transform(string_split_regex(trim(text), '\s+'),
         |    t -> CASE WHEN length(t) >= 4 THEN t ELSE '_' END), ' ')
         |    AS marked
         |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact dedup on the NORMALIZED text — the form real pipelines hash
    * (north star: dedup correctness depends on normalizing first). */
  def dedupNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.normalizedGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("keep_id"))

  val dedupNormalizedSql: String =
    raw"""SELECT md5(trim(regexp_replace(strip_accents(lower(nfc_normalize(text))),
         |    '\s+', ' ', 'g'))) AS digest,
         |  min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Shared CTE for the segment-dedup oracles: token segments with
    * document-local positions (parallel unnests zip in DuckDB). The
    * synthetic corpus is single-line, so segments are whitespace tokens
    * (`\s+`); a real pipeline runs the same operator with `\n`. */
  private val segsSql: String =
    raw"""segs AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\s+')) AS seg,
         |    unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
         |      AS seg_no
         |  FROM documents),
         |tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)"""
      .stripMargin

  /** Reassembly tail shared by the segment-dedup oracles (expects a
    * `kept(doc_id, seg_no, seg)` CTE in scope). */
  private val reassembleSql: String =
    """agg AS (
      |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS cleaned,
      |    count(*) AS n_kept FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(a.cleaned, '') AS cleaned,
      |  CAST(coalesce(t.n_segs, 0) AS BIGINT) AS n_segs,
      |  CAST(coalesce(t.n_segs, 0) - coalesce(a.n_kept, 0) AS BIGINT)
      |    AS n_removed
      |FROM documents d
      |LEFT JOIN tot t ON t.doc_id = d.doc_id
      |LEFT JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Boilerplate removal at segment granularity (north star: the
    * CCNet/RefinedWeb line-frequency pass): drop segments present in
    * ≥ 50% of documents, reassemble survivors in order. */
  def dfPrune(s: SparkSession, dir: String): DataFrame =
    SegmentDedup.removeFrequentSegments(
      Tables.documents(s, dir).withColumn("text", trim(col("text"))),
      "doc_id", "text", minDocFrac = 0.5,
      delimRegex = "\\s+", joinSep = " ")
      .orderBy(col("doc_id"))

  val dfPruneSql: String =
    raw"""WITH $segsSql,
         |freq AS (
         |  SELECT seg FROM segs GROUP BY seg
         |  HAVING CAST(count(DISTINCT doc_id) AS DOUBLE) >=
         |    0.5 * (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
         |           FROM documents)),
         |kept AS (
         |  SELECT s.doc_id, s.seg_no, s.seg FROM segs s
         |  LEFT JOIN freq f ON f.seg = s.seg WHERE f.seg IS NULL),
         |$reassembleSql""".stripMargin

  /** Exact keep-first segment dedup (RefinedWeb line dedup): each
    * distinct segment survives only at its globally first (doc_id,
    * position) occurrence. */
  def segDedupFirst(s: SparkSession, dir: String): DataFrame =
    SegmentDedup.dedupSegmentsKeepFirst(
      Tables.documents(s, dir).withColumn("text", trim(col("text"))),
      "doc_id", "text", delimRegex = "\\s+", joinSep = " ")
      .orderBy(col("doc_id"))

  val segDedupFirstSql: String =
    raw"""WITH $segsSql,
         |ranked AS (
         |  SELECT doc_id, seg_no, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no)
         |      AS rn
         |  FROM segs),
         |kept AS (SELECT doc_id, seg_no, seg FROM ranked WHERE rn = 1),
         |$reassembleSql""".stripMargin

  /** Dictionary spell-correction (FuzzyJoin.closestMatch shape): corrupt
    * every distinct corpus token with a trailing 'x', then recover the
    * nearest vocabulary entry within edit distance 1 via the deletion-
    * neighborhood join — ties broken by (dist, term) on both engines. */
  def spellCorrect(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term")).distinct()
    val corrupted = toks
      .select(concat(col("term"), lit("x")).as("w")).distinct()
      .withColumn("id", col("w"))
    graft.operators.FuzzyJoin
      .closestMatch(corrupted, "id", "w", toks, "term", k = 1)
      .select(col("w"), col("suggestion"), col("dist"))
      .orderBy(col("w"))
  }

  val spellCorrectSql: String =
    raw"""WITH toks AS (
         |  SELECT DISTINCT unnest($toksSql) AS term FROM documents),
         |cor AS (SELECT DISTINCT term || 'x' AS w FROM toks),
         |cand AS (
         |  SELECT c.w, t.term AS suggestion,
         |    levenshtein(c.w, t.term) AS dist,
         |    row_number() OVER (PARTITION BY c.w
         |      ORDER BY levenshtein(c.w, t.term), t.term) AS rn
         |  FROM cor c JOIN toks t ON levenshtein(c.w, t.term) <= 1)
         |SELECT c.w, k.suggestion, k.dist
         |FROM cor c LEFT JOIN (
         |  SELECT w, suggestion, dist FROM cand WHERE rn = 1) k USING (w)
         |ORDER BY w""".stripMargin

  /** Token statistics (tokenize counts + type/token ratio). */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
    d.select(col("doc_id"),
        size(col("toks")).as("n_tok"),
        size(array_distinct(col("toks"))).as("n_types"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("ttr"),
        expr("aggregate(toks, 0, (acc, x) -> acc + length(x))").as("sum_len"))
      .orderBy(col("doc_id"))
  }

  val tokenStatsSql: String =
    s"""SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_types,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
       |  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS INT)
       |    AS sum_len
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Composite quality score (north star: quality scoring). */
  def quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), qualityScore("toks").as("quality"))
      .orderBy(col("doc_id"))

  /** Shared SQL fragment for the quality formula over a `toks` list
    * column — used by BOTH doc_quality and the composed doc_curation
    * oracle so the two can never drift. */
  private[queries] val qualityExprSql: String =
    """0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
      |  + 0.3 * (1.0 - CAST(len(list_filter(toks,
      |      t -> list_contains(['the','a','and','of'], t))) AS DOUBLE) / len(toks))
      |  + 0.3 * least((CAST(list_aggregate(list_transform(toks,
      |      x -> length(x)), 'sum') AS DOUBLE) / len(toks)) / 10.0, 1.0)""".stripMargin

  val qualitySql: String =
    s"""SELECT doc_id,
       |  $qualityExprSql
       |  AS quality
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Per-language quality quartiles (north star: quality-stratified
    * curation — sample/filter WITHIN each language so low-resource
    * languages aren't crushed by a global threshold). Cutpoints are an
    * exact per-lang percentile aggregate broadcast back onto the docs —
    * the same skew-free shape as the outlier fences; an ntile window
    * would instead globally sort each language partition. Output is the
    * (lang, quartile) histogram with quality bounds. */
  def qualityBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"), qualityScore("toks").as("quality"))
    val cuts = d.groupBy(col("lang"))
      .agg(expr("percentile(quality, array(0.25D, 0.5D, 0.75D))").as("__cuts"))
    d.join(broadcast(cuts), Seq("lang"))
      .withColumn("q_bin",
        graft.functions.NumericFunctions.qcutBin(col("quality"), col("__cuts")))
      .groupBy(col("lang"), col("q_bin"))
      .agg(count(lit(1)).as("n"),
        min(col("quality")).as("lo"), max(col("quality")).as("hi"))
      .orderBy(col("lang"), col("q_bin"))
  }

  val qualityBucketsSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, lang, $qualityExprSql AS quality
       |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)),
       |cuts AS (
       |  SELECT lang, quantile_cont(quality, [0.25, 0.5, 0.75]) AS cuts
       |  FROM q GROUP BY lang)
       |SELECT q.lang,
       |  1 + len(list_filter(c.cuts, x -> x < q.quality)) AS q_bin,
       |  count(*) AS n, min(q.quality) AS lo, max(q.quality) AS hi
       |FROM q JOIN cuts c ON q.lang = c.lang
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Winnowing fingerprints over the corpus (MOSS; see
    * [[graft.operators.TextPipeline.winnowFingerprints]]): the oracle
    * replays k-gram hashing (portable md5-60), the w-window minimum
    * (ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING), the full-window guard
    * and the distinct — the fingerprint SET matches bit for bit. */
  def docWinnow(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline
      .winnowFingerprints(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"), col("fp"))

  val docWinnowSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, g.i AS i,
       |    CAST(('0x' || substring(
       |      md5(t[g.i] || ' ' || t[g.i + 1] || ' ' || t[g.i + 2]),
       |      1, 15)) AS BIGINT) AS h
       |  FROM toks,
       |    LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
       |      AS g(i)),
       |wins AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM grams)
       |SELECT DISTINCT doc_id, fp FROM wins WHERE rn <= ng - 3
       |ORDER BY doc_id, fp""".stripMargin

  /** Winnow-based contamination pairs: document pairs sharing ≥ 10
    * winnowing fingerprints, with the shared count. The pair stream
    * rides [[graft.operators.PostingLists.candidatePairs]] on the
    * fingerprint (per-fp posting lists, one row per shared fp —
    * multiplicity IS the signal, aggregated per pair), never a doc×doc
    * or fps×fps self-join. The oracle joins the same fingerprint sets
    * in SQL. */
  def docWinnowPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.TextPipeline
      .winnowFingerprints(Tables.documents(s, dir), "doc_id", "text")
    graft.operators.PostingLists.candidatePairs(fps, "doc_id", "fp")
      .groupBy(col("a").as("id_a"), col("b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 10)
      .orderBy(col("id_a"), col("id_b"))
  }

  val docWinnowPairsSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, g.i AS i,
       |    CAST(('0x' || substring(
       |      md5(t[g.i] || ' ' || t[g.i + 1] || ' ' || t[g.i + 2]),
       |      1, 15)) AS BIGINT) AS h
       |  FROM toks,
       |    LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
       |      AS g(i)),
       |wins AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM grams),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE rn <= ng - 3)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 10
       |ORDER BY id_a, id_b""".stripMargin

  /** Phonetic keys: American Soundex over the corpus vocabulary —
    * the classic blocking key for record linkage (compose with
    * [[graft.operators.FuzzyJoin]] for block-then-verify linkage).
    * The oracle is a hand-derived Soundex table for the 31-token
    * vocabulary, computed from the algorithm spec (first letter; codes
    * b f p v→1, c g j k q s x z→2, d t→3, l→4, m n→5, r→6; vowels
    * y not coded and SEPARATING, h w not coded and NOT separating;
    * adjacent identical codes — including the first letter's — coded
    * once; pad to 4), independent of the engine like doc_stems. */
  def docSoundex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term")).distinct()
      .select(col("term"), soundex(col("term")).as("sdx"))
      .orderBy(col("term"))

  val docSoundexSql: String =
    s"""WITH vals(term, sdx) AS (VALUES
       |  ('a','A000'), ('agg','A200'), ('batch','B320'), ('big','B200'),
       |  ('column','C450'), ('customer','C235'), ('data','D300'),
       |  ('dup','D100'), ('fast','F230'), ('filter','F436'),
       |  ('group','G610'), ('hash','H200'), ('join','J500'),
       |  ('key','K000'), ('line','L500'), ('merge','M620'),
       |  ('order','O636'), ('part','P630'), ('query','Q600'),
       |  ('row','R000'), ('scan','S500'), ('slow','S400'),
       |  ('small','S540'), ('sort','S630'), ('spark','S162'),
       |  ('stream','S365'), ('table','T140'), ('the','T000'),
       |  ('value','V400'), ('vector','V236'), ('window','W530')),
       |toks AS (SELECT DISTINCT unnest($toksSql) AS term FROM documents)
       |SELECT t.term, v.sdx FROM toks t JOIN vals v ON v.term = t.term
       |ORDER BY t.term""".stripMargin

  /** Character-entropy quality signal (gibberish / binary-noise gate).
    * Determinism contract, in two layers: (1) both engines fold p·ln(p)
    * over the per-doc char histogram SORTED BY CHARACTER, seeded at 0.0
    * — identical IEEE addition ORDER (the oracle's list_reduce with a
    * prepended 0.0 replicates Spark's `aggregate` left fold; list_sum's
    * order is not contractual). (2) No bit-identical natural log exists
    * across engines — JVM Math.log differs from glibc's by 1 ulp on
    * ~3e-5 of inputs (measured: 302 of the first 10M integers; Spark's
    * own `ln` is StrictMath/fdlibm and diverges MORE) — so the gate
    * compares integer MICRO-NATS: floor(entropy·1e6). A 1-ulp log
    * wobble shifts entropy by ~1.3e-15 and flips the floor only within
    * 1.3e-9 of a boundary (≈2.6e-9 per doc, deterministic per corpus
    * because of (1)); any real algorithmic error ≥ 1e-6 nats still
    * fails. Library callers get the full double from
    * [[graft.operators.TextPipeline.charEntropy]]. */
  def charEntropyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline
      .charEntropy(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_chars"), col("distinct_chars"),
        floor(col("entropy") * lit(1e6)).cast("long").as("entropy_unats"))
      .orderBy(col("doc_id"))

  val charEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |cnt AS (
      |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS n
      |  FROM chars WHERE ch <> '' GROUP BY doc_id, ch),
      |agg AS (
      |  SELECT doc_id, list(n ORDER BY ch) AS ns,
      |         CAST(sum(n) AS BIGINT) AS n_chars,
      |         CAST(count(*) AS BIGINT) AS distinct_chars
      |  FROM cnt GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(agg.n_chars, 0) AS n_chars,
      |  coalesce(agg.distinct_chars, 0) AS distinct_chars,
      |  CASE WHEN agg.doc_id IS NULL THEN 0
      |    ELSE CAST(floor(-list_reduce(
      |      list_prepend(0.0::DOUBLE,
      |        list_transform(ns, c -> (c::DOUBLE / agg.n_chars::DOUBLE) *
      |                                ln(c::DOUBLE / agg.n_chars::DOUBLE))),
      |      (a, b) -> a + b) * 1000000.0) AS BIGINT) END AS entropy_unats
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Phonetic keys, round 2: classic Metaphone over the same corpus
    * vocabulary — finer-grained than Soundex (consonant classes become
    * context-sensitive digraph rules), the usual upgrade for linkage
    * blocking. Oracle: hand-derived from the algorithm spec documented
    * on [[graft.plans.Metaphone]] (vowels only word-initially, C/G/H
    * digraph rules, W/Y silent without a following vowel, code length
    * 4), independent of the implementation like doc_soundex. */
  def docMetaphone(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term")).distinct()
      .select(col("term"),
        graft.plans.GraftExpressions.metaphone(col("term")).as("mph"))
      .orderBy(col("term"))

  val docMetaphoneSql: String =
    s"""WITH vals(term, mph) AS (VALUES
       |  ('a','A'), ('agg','AK'), ('batch','BX'), ('big','BK'),
       |  ('column','KLMN'), ('customer','KSTM'), ('data','TT'),
       |  ('dup','TP'), ('fast','FST'), ('filter','FLTR'),
       |  ('group','KRP'), ('hash','HX'), ('join','JN'),
       |  ('key','K'), ('line','LN'), ('merge','MRJ'),
       |  ('order','ORTR'), ('part','PRT'), ('query','KR'),
       |  ('row','R'), ('scan','SKN'), ('slow','SL'),
       |  ('small','SML'), ('sort','SRT'), ('spark','SPRK'),
       |  ('stream','STRM'), ('table','TBL'), ('the','0'),
       |  ('value','FL'), ('vector','FKTR'), ('window','WNT')),
       |toks AS (SELECT DISTINCT unnest($toksSql) AS term FROM documents)
       |SELECT t.term, v.mph FROM toks t JOIN vals v ON v.term = t.term
       |ORDER BY t.term""".stripMargin

  /** Double Metaphone (Philips 2000) over the corpus vocabulary —
    * primary + alternate pronunciation keys (plans/DoubleMetaphone;
    * the implementation is referee-tested against commons-codec on 30k
    * fuzz strings, and this oracle table is commons-codec's own output
    * for the vocabulary — independent of our code). Note the words
    * where the alternate diverges: join→AN (Spanish J), slow/small→X
    * (Slavic SL), window→FNTF (W-as-V), the→T. */
  def docDoubleMetaphone(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term")).distinct()
      .select(col("term"),
        graft.plans.GraftExpressions.doubleMetaphone(col("term")).as("dmp"),
        graft.plans.GraftExpressions.doubleMetaphone(col("term"),
          alternate = true).as("dma"))
      .orderBy(col("term"))

  val docDoubleMetaphoneSql: String =
    s"""WITH vals(term, dmp, dma) AS (VALUES
       |  ('a','A','A'), ('agg','AK','AK'), ('batch','PX','PX'),
       |  ('big','PK','PK'), ('column','KLMN','KLMN'),
       |  ('customer','KSTM','KSTM'), ('data','TT','TT'), ('dup','TP','TP'),
       |  ('fast','FST','FST'), ('filter','FLTR','FLTR'),
       |  ('group','KRP','KRP'), ('hash','HX','HX'), ('join','JN','AN'),
       |  ('key','K','K'), ('line','LN','LN'), ('merge','MRJ','MRK'),
       |  ('order','ARTR','ARTR'), ('part','PRT','PRT'),
       |  ('query','KR','KR'), ('row','R','RF'), ('scan','SKN','SKN'),
       |  ('slow','SL','XLF'), ('small','SML','XML'), ('sort','SRT','SRT'),
       |  ('spark','SPRK','SPRK'), ('stream','STRM','STRM'),
       |  ('table','TPL','TPL'), ('the','0','T'), ('value','FL','FL'),
       |  ('vector','FKTR','FKTR'), ('window','ANT','FNTF')),
       |toks AS (SELECT DISTINCT unnest($toksSql) AS term FROM documents)
       |SELECT t.term, v.dmp, v.dma FROM toks t JOIN vals v ON v.term = t.term
       |ORDER BY t.term""".stripMargin

  /** NYSIIS (Taft 1970) + Refined Soundex over the corpus vocabulary —
    * completing the phonetic-blocking family (soundex, metaphone,
    * double metaphone, nysiis, refined soundex). Implementations are
    * referee-tested against commons-codec on 20k fuzz strings; the
    * oracle table is the referee's own output for the vocabulary. */
  def docPhoneticExtra(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term")).distinct()
      .select(col("term"),
        graft.plans.GraftExpressions.nysiis(col("term")).as("nys"),
        graft.plans.GraftExpressions.refinedSoundex(col("term")).as("rsx"))
      .orderBy(col("term"))

  val docPhoneticExtraSql: String =
    s"""WITH vals(term, nys, rsx) AS (VALUES
       |  ('a','A','A0'), ('agg','AG','A04'), ('batch','BATC','B10630'),
       |  ('big','BAG','B104'), ('column','CALAN','C30708'),
       |  ('customer','CASTAN','C30360809'), ('data','DAT','D6060'),
       |  ('dup','DAP','D601'), ('fast','FAST','F2036'),
       |  ('filter','FALTAR','F207609'), ('group','GRAP','G4901'),
       |  ('hash','H','H030'), ('join','JAN','J408'), ('key','CY','K30'),
       |  ('line','LAN','L7080'), ('merge','MARG','M80940'),
       |  ('order','ORDAR','O09609'), ('part','PAD','P1096'),
       |  ('query','QARY','Q5090'), ('row','R','R90'),
       |  ('scan','SCAN','S308'), ('slow','SL','S370'),
       |  ('small','SNAL','S3807'), ('sort','SAD','S3096'),
       |  ('spark','SPARC','S31093'), ('stream','STRAN','S36908'),
       |  ('table','TABL','T60170'), ('the','T','T60'),
       |  ('value','VAL','V2070'), ('vector','VACTAR','V203609'),
       |  ('window','WAND','W0860')),
       |toks AS (SELECT DISTINCT unnest($toksSql) AS term FROM documents)
       |SELECT t.term, v.nys, v.rsx FROM toks t JOIN vals v ON v.term = t.term
       |ORDER BY t.term""".stripMargin

  /** Unicode script profile + dominant script — the gate BEFORE langid
    * in a web-corpus pipeline. Counts per explicit code-point class and
    * a priority-ordered argmax; the identical literal ranges are
    * embedded in both engines' regexes (no \p{...} dialect risk). */
  def docScripts(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{ScriptRanges, scriptCount, dominantScript}
    val shortNames = Map("latin" -> "lat", "cyrillic" -> "cyr",
      "greek" -> "grk", "arabic" -> "arb", "cjk" -> "cjk", "digit" -> "dig")
    val countCols = ScriptRanges.map { case (l, r) =>
      scriptCount(col("text"), r).cast("long").as(shortNames(l))
    }
    Tables.documents(s, dir)
      .select(col("doc_id") +: countCols :+
        dominantScript(col("text")).as("script"): _*)
      .orderBy(col("doc_id"))
  }

  val docScriptsSql: String = {
    import graft.functions.TextFunctions.ScriptRanges
    val shortNames = Map("latin" -> "lat", "cyrillic" -> "cyr",
      "greek" -> "grk", "arabic" -> "arb", "cjk" -> "cjk", "digit" -> "dig")
    val counts = ScriptRanges.map { case (l, r) =>
      s"CAST(length(regexp_replace(text, '[^$r]', '', 'g')) AS BIGINT) AS ${shortNames(l)}"
    }.mkString(",\n  ")
    // same first-that-beats-all-later argmax as dominantScript
    val shorts = ScriptRanges.map { case (l, _) => (l, shortNames(l)) }
    val cases = shorts.zipWithIndex.map { case ((label, sn), i) =>
      val rest = shorts.drop(i + 1).map(_._2)
      val cond =
        if (rest.isEmpty) s"$sn > 0"
        else if (rest.size == 1) s"$sn > 0 AND $sn >= ${rest.head}"
        else s"$sn > 0 AND $sn >= greatest(${rest.mkString(", ")})"
      s"WHEN $cond THEN '$label'"
    }.mkString("\n    ")
    s"""SELECT doc_id, ${shorts.map(_._2).mkString(", ")},
       |  CASE $cases
       |    ELSE 'other' END AS script
       |FROM (SELECT doc_id, text,
       |  $counts
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Heuristic language id: per-profile stopword hits + argmax. */
  def langid(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
    val scoreCols = langProfiles.map { case (l, ws) =>
      hitCount(col("toks"), ws).as(s"s_$l")
    }
    d.select((col("doc_id") +: scoreCols :+ langId(col("toks")).as("lang_pred")): _*)
      .orderBy(col("doc_id"))
  }

  /** Shared SQL fragments for language id (score columns + argmax CASE
    * over their `s_<lang>` lateral aliases) — used by BOTH doc_langid
    * and the composed doc_curation oracle. */
  private val langScoresSql: String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(toks, t -> list_contains([${ws.map("'" + _ + "'").mkString(",")}], t)))"
    langProfiles.map { case (l, ws) => s"${hits(ws)} AS s_$l" }.mkString(", ")
  }
  private val langCaseSql: String =
    """CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
      |       WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
      |       WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END""".stripMargin

  val langidSql: String =
    s"""SELECT doc_id, $langScoresSql,
       |  $langCaseSql AS lang_pred
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Exact n-gram(1) Jaccard near-dup pairs via inverted token index,
    * capped to a deterministic id range so the oracle's quadratic
    * formulation stays cheap. */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsExact(
      Tables.documents(s, dir).filter(col("doc_id") < 150), "doc_id", "text", 0.9)
      .orderBy(col("id_a"), col("id_b"))

  val jaccardPairsSql: String =
    s"""SELECT id_a, id_b, jac FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
       |  FROM (SELECT doc_id, list_distinct($toksSql) AS toks
       |        FROM documents WHERE doc_id < 150) a
       |  JOIN (SELECT doc_id, list_distinct($toksSql) AS toks
       |        FROM documents WHERE doc_id < 150) b ON a.doc_id < b.doc_id)
       |WHERE jac >= 0.9 ORDER BY id_a, id_b""".stripMargin

  /** Asymmetric containment pairs (Broder's resemblance-vs-containment
    * distinction — catches excerpts that Jaccard's symmetric
    * denominator dilutes away; see Dedup.containmentPairs). */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 150), "doc_id", "text", 0.9)
      .orderBy(col("id_a"), col("id_b"))

  val containmentPairsSql: String =
    s"""SELECT id_a, id_b, cont_ab, cont_ba FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      len(a.toks) AS cont_ab,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      len(b.toks) AS cont_ba
       |  FROM (SELECT doc_id, list_distinct($toksSql) AS toks
       |        FROM documents WHERE doc_id < 150) a
       |  JOIN (SELECT doc_id, list_distinct($toksSql) AS toks
       |        FROM documents WHERE doc_id < 150) b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.toks, b.toks)) > 0)
       |WHERE cont_ab >= 0.9 OR cont_ba >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash+LSH near-dup pairs (the scale path). Oracle-checked: the
    * kernel's per-token MD5-60 hash, affine remixes mod 2^61−1 (fixed
    * published constants), and MD5 band digests are all replayed
    * exactly in DuckDB ([[minhashPairsSql]]) — candidate generation
    * included, not just the Jaccard verify. Input is capped to a
    * deterministic id range: the synthetic corpus has a 31-word
    * vocabulary, so near-dup PAIR count grows quadratically with
    * corpus size regardless of algorithm — real corpora don't. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    // bands=4 (rows=8) sharpens the S-curve for the 0.9 threshold: on
    // this 31-word-vocab corpus the 8×4 banding admits 66% of ALL pairs
    // as candidates (verify cost ~3×); 4×8 admits ~4% at recall ≈0.89
    // for true 0.9-pairs — the standard banding-parameter tradeoff
    Dedup.minhashPairs(Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "doc_id", "text", numHashes = 32, bands = 4, threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** Shingle (word-3-gram) MinHash near-dup pairs (minhash_ngrams,
    * nvtext/minhash.hpp:156) — order-sensitive variant; oracle-checked
    * like [[minhashPairs]] (same portable kernel, shingles replayed in
    * SQL); planted-dup recall additionally covered by DedupSpec. */
  def minhashNgramPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNgramPairs(Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "doc_id", "text", n = 3, numHashes = 32, bands = 8, threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs — oracle-checked BRUTE-FORCE: the 4-band
    * pigeonhole guarantees every pair within Hamming 3 shares a band,
    * so the operator's output is exactly all such pairs and the oracle
    * needs no LSH replay, only the portable 60-bit signature (which
    * DuckDB recomputes from per-token MD5-60 bit votes). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "doc_id", "text", maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))

  import graft.plans.PortableHash

  /** The kernel's banded-minhash chain in DuckDB: per-token MD5-60 →
    * per-seed affine min (HUGEINT modular arithmetic — exact) → per-band
    * MD5 digest of the comma-joined signature slice. `docsCte` must
    * expose (id, toks); emits (id, b, k). Docs with empty `toks` drop
    * out here (no rows to aggregate) where the kernel gives them the
    * sentinel signature — the synthetic corpus has no empty docs, and
    * gate inputs are id-capped real documents. */
  private def minhashBndSql(docsCte: String, rows: Int): String =
    s"""SELECT id, s // $rows AS b, substring(md5(array_to_string(
       |    list(CAST(v AS VARCHAR) ORDER BY s), ',')), 1, 15) AS k
       |FROM (
       |  SELECT id, sd.s AS s,
       |    min(${PortableHash.sqlAffine("h0", "sd.sa", "sd.sb")}) AS v
       |  FROM (SELECT id, ${PortableHash.sqlMd5_60("t")} AS h0
       |        FROM (SELECT id, unnest(toks) AS t FROM $docsCte))
       |  CROSS JOIN seeds sd GROUP BY id, sd.s)
       |GROUP BY id, b""".stripMargin

  private val seedsCte: String =
    s"seeds(s, sa, sb) AS (VALUES ${PortableHash.sqlSeedRows(32)})"

  /** Exact-Jaccard verify over candidate pairs: same double arithmetic
    * as functions.jaccard (int sizes, one double division). */
  private def jacVerifySql(candCte: String, aCol: String, bCol: String,
      docsCte: String, thr: Double): String =
    s"""SELECT $aCol, $bCol, jac FROM (
       |  SELECT c.$aCol, c.$bCol,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      (len(a.toks) + len(b.toks)
       |        - len(list_intersect(a.toks, b.toks))) AS jac
       |  FROM $candCte c JOIN $docsCte a ON a.id = c.$aCol
       |  JOIN $docsCte b ON b.id = c.$bCol)
       |WHERE jac >= $thr""".stripMargin

  val minhashPairsSql: String =
    s"""WITH $seedsCte,
       |docs AS (SELECT doc_id AS id, list_distinct($toksSql) AS toks
       |         FROM documents WHERE doc_id < 1000),
       |bnd AS (${minhashBndSql("docs", 8)}),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bnd x JOIN bnd y
       |         ON x.b = y.b AND x.k = y.k AND x.id < y.id)
       |${jacVerifySql("cand", "id_a", "id_b", "docs", 0.9)}
       |ORDER BY id_a, id_b""".stripMargin

  val minhashNgramPairsSql: String =
    s"""WITH $seedsCte,
       |docs AS (SELECT id, CASE WHEN len(tk) >= 3 THEN
       |    list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |      i -> tk[i] || chr(31) || tk[i+1] || chr(31) || tk[i+2]))
       |  ELSE [array_to_string(tk, chr(31))] END AS toks
       |  FROM (SELECT doc_id AS id, $toksSql AS tk
       |        FROM documents WHERE doc_id < 1000)),
       |bnd AS (${minhashBndSql("docs", 4)}),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bnd x JOIN bnd y
       |         ON x.b = y.b AND x.k = y.k AND x.id < y.id)
       |${jacVerifySql("cand", "id_a", "id_b", "docs", 0.9)}
       |ORDER BY id_a, id_b""".stripMargin

  /** Brute-force all-pairs Hamming over the replayed 60-bit signature:
    * per-token MD5-60 bit votes (multiplicity counts — unnest of the
    * RAW token list), sign per bit, pairs with distance ≤ 3. Valid as
    * the oracle for the LSH operator because 4-band pigeonhole recall
    * is exact at maxDist 3. */
  val simhashPairsSql: String =
    s"""WITH th AS (
       |  SELECT id, ${PortableHash.sqlMd5_60("t")} AS h0
       |  FROM (SELECT doc_id AS id, unnest($toksSql) AS t
       |        FROM documents WHERE doc_id < 1000)),
       |sh AS (
       |  SELECT id, CAST(sum(CASE WHEN v > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
       |  FROM (
       |    SELECT id, bits.b AS b, sum(CASE WHEN (h0 >> bits.b) & 1 = 1
       |        THEN 1 ELSE -1 END) AS v
       |    FROM th CROSS JOIN
       |      (SELECT unnest(generate_series(0, 59)) AS b) bits
       |    GROUP BY id, bits.b)
       |  GROUP BY id)
       |SELECT id_a, id_b, hdist FROM (
       |  SELECT x.id AS id_a, y.id AS id_b,
       |    bit_count(xor(x.sh, y.sh)) AS hdist
       |  FROM sh x JOIN sh y ON x.id < y.id)
       |WHERE hdist <= 3 ORDER BY id_a, id_b""".stripMargin

  /** TF-IDF over the corpus (north star: text analysis). The gate runs
    * the rational-idf variant (N/df — exact arithmetic); the standard
    * ln-idf is the operator default, unit-tested (libm excluded from
    * oracles by policy). */
  /** Sentence segmentation (split after ./!/? + whitespace — the
    * pre-chunking step; heuristic by design, see
    * TextFunctions.sentences). */
  def sentencesQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") < 50)
      // synthetic docs have no punctuation: plant deterministic
      // sentence ends every few words so the splitter has work to do
      .select(col("doc_id"), regexp_replace(col("text"),
        "(\\w+ \\w+ \\w+ \\w+ \\w+)", "$1.").as("_marked"))
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.sentences(col("_marked")))
        .as(Seq("sent_idx", "sentence")))
      .filter(col("sentence") =!= "")
      .orderBy(col("doc_id"), col("sent_idx"))

  val sentencesSql: String =
    raw"""SELECT doc_id, sent_idx, sentence FROM (
         |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS sent_idx,
         |    unnest(l) AS sentence
         |  FROM (
         |    SELECT doc_id, string_split(regexp_replace(
         |      regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+)', '\1.', 'g'),
         |      '([.!?])\s+', '\1' || chr(30), 'g'), chr(30)) AS l
         |    FROM documents WHERE doc_id < 50))
         |WHERE sentence != ''
         |ORDER BY doc_id, sent_idx""".stripMargin

  /** Language-ID with confidence margin (top1 − top2 profile hits) —
    * the filterable signal a bare argmax hides. */
  def langidMarginQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), graft.functions.TextFunctions
        .langIdWithMargin(graft.functions.TextFunctions.tokens(col("text")))
        .as("_m"))
      .select(col("doc_id"), col("_m.lang").as("lang_detected"),
        col("_m.hits").cast("long").as("hits"),
        col("_m.margin").cast("long").as("margin")) // oracle len() is BIGINT
      .orderBy(col("doc_id"))

  val langidMarginSql: String = {
    val profiles = graft.functions.TextFunctions.langProfiles
    val hitCols = profiles.map { case (l, _) => l -> s"h_$l" }
    val hitDefs = profiles.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString("(", ", ", ")")
      s"len(list_filter($toksSql, t -> t IN $inList)) AS h_$l"
    }.mkString(",\n      ")
    val arr = hitCols.map(_._2).mkString("[", ", ", "]")
    // argmax with ties broken in PROFILE order (en, es, de, fr, zh) —
    // mirror of TextFunctions.langId's foldRight
    val argmax = hitCols.init.zipWithIndex
      .foldRight(s"'${hitCols.last._1}'") {
        case (((l, e), i), rest) =>
          val others = hitCols.drop(i + 1).map(_._2)
          val hi = if (others.size == 1) others.head
            else s"greatest(${others.mkString(", ")})"
          s"CASE WHEN $e >= $hi THEN '$l' ELSE $rest END"
      }
    s"""SELECT doc_id, $argmax AS lang_detected,
       |  list_reverse_sort($arr)[1] AS hits,
       |  list_reverse_sort($arr)[1] - list_reverse_sort($arr)[2] AS margin
       |FROM (SELECT doc_id,
       |      $hitDefs
       |    FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Cross-dataset n-gram decontamination: train = doc_id ≥ 50 scrubbed
    * against eval = doc_id < 50 at ≥ 3 shared winnow fingerprints
    * (69/450 train docs flagged on this corpus — a real split). */
  def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Curation.decontaminate(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", minShared = 3)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, g.i AS i,
       |    CAST(('0x' || substring(
       |      md5(t[g.i] || ' ' || t[g.i + 1] || ' ' || t[g.i + 2]),
       |      1, 15)) AS BIGINT) AS h
       |  FROM toks,
       |    LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
       |      AS g(i)),
       |wins AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM grams),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE rn <= ng - 3),
       |bad AS (
       |  SELECT t.doc_id FROM (SELECT * FROM fps WHERE doc_id >= 50) t
       |  JOIN (SELECT DISTINCT fp FROM fps WHERE doc_id < 50) e USING (fp)
       |  GROUP BY t.doc_id HAVING count(*) >= 3)
       |SELECT doc_id FROM documents
       |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin

  /** Train/test leakage report: near-dup pairs (the oracle-proven
    * MinHash+LSH screen) joined to a deterministic hash split, counted
    * per split combination — the contamination metric you read BEFORE
    * trusting an eval set carved from the same crawl. `leaks = true`
    * rows are eval contamination; the fix is
    * [[graft.operators.Curation.assignSplitLeakFree]] (group-level
    * split), whose CurationSpec test proves this row-level split leaks
    * on the same corpus. Scale shape = minhash pairs + two broadcast-
    * able split joins + a 3-row aggregate. */
  def leakageReportQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 4, threshold = 0.9)
    val splits = graft.operators.Curation.assignSplit(docs, "doc_id",
        "leak", Seq("train" -> 0.9, "test" -> 1.0))
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("_sa")),
        "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("_sb")),
        "id_b")
      .select(least(col("_sa"), col("_sb")).as("split_lo"),
        greatest(col("_sa"), col("_sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  val leakageReportSql: String = {
    val u = "(('0x' || substring(md5('leak|' || CAST(doc_id AS VARCHAR))" +
      ", 1, 15))::BIGINT::DOUBLE / 1152921504606846976.0)"
    s"""WITH $seedsCte,
       |docs AS (SELECT doc_id AS id, list_distinct($toksSql) AS toks
       |         FROM documents WHERE doc_id < 1000),
       |bnd AS (${minhashBndSql("docs", 8)}),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bnd x JOIN bnd y
       |         ON x.b = y.b AND x.k = y.k AND x.id < y.id),
       |pairs AS (${jacVerifySql("cand", "id_a", "id_b", "docs", 0.9)}),
       |spl AS (SELECT doc_id AS id,
       |    CASE WHEN $u < 0.9 THEN 'train' ELSE 'test' END AS split
       |  FROM documents WHERE doc_id < 1000)
       |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
       |  split_lo != split_hi AS leaks
       |FROM (SELECT least(sa.split, sb.split) AS split_lo,
       |             greatest(sa.split, sb.split) AS split_hi
       |      FROM pairs p JOIN spl sa ON p.id_a = sa.id
       |      JOIN spl sb ON p.id_b = sb.id)
       |GROUP BY split_lo, split_hi
       |ORDER BY split_lo, split_hi""".stripMargin
  }

  /** Corpus n-gram diversity per language, n=1..3 — the distinct-n
    * mode-collapse metric for synthetic-data QA. */
  def ngramDiversityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.ngramDiversity(
        Tables.documents(s, dir), "lang", "text", maxN = 3)
      .orderBy(col("lang"), col("n"))

  val ngramDiversitySql: String = {
    def gramsN(n: Int) =
      s"unnest(list_transform(generate_series(1, greatest(len(t) - ${n - 1}, 0)), " +
        s"i -> array_to_string(t[i:i+${n - 1}], chr(31))))"
    s"""WITH toks AS (SELECT lang, $toksSql AS t FROM documents),
       |grams AS (
       |  SELECT lang, 1 AS n, unnest(t) AS gram FROM toks
       |  UNION ALL SELECT lang, 2 AS n, ${gramsN(2)} AS gram FROM toks
       |  UNION ALL SELECT lang, 3 AS n, ${gramsN(3)} AS gram FROM toks),
       |counted AS (
       |  SELECT lang, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3)
       |SELECT lang, n, CAST(sum(c) AS BIGINT) AS total_ngrams,
       |  CAST(count(*) AS BIGINT) AS distinct_ngrams,
       |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS distinct_ratio
       |FROM counted GROUP BY lang, n
       |ORDER BY lang, n""".stripMargin
  }

  /** Per-document OOV rate against the corpus's own top-200 tokens
    * (tokenizer-coverage diagnostics; vocabulary selection is a
    * distributed partial top-k, no global sort). */
  def oovQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.oovStats(
        Tables.documents(s, dir), "doc_id", "text", vocabSize = 200)
      .orderBy(col("doc_id"))

  val oovSql: String =
    s"""WITH base AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM base GROUP BY tok)
       |  ORDER BY cnt DESC, tok LIMIT 200)
       |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS oov_rate
       |FROM base b LEFT JOIN vocab v USING (tok)
       |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  /** Corpus snapshot diff: old = full corpus; new = drop doc_id < 10
    * (removed), mutate doc_id % 50 = 0 (changed), append 5 fresh ids
    * (added) — both versions derived deterministically in each engine. */
  def corpusDiffQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val old = docs.select(col("doc_id"), col("text"))
    val mutated = docs.filter(col("doc_id") >= 10)
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 0, concat(col("text"), lit(" [edited]")))
          .otherwise(col("text")).as("text"))
    val added = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + lit(1000000)).as("doc_id"), col("text"))
    graft.operators.Curation.corpusDiff(old, mutated.union(added),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  val corpusDiffSql: String =
    """WITH oldv AS (SELECT doc_id, md5(text) AS d FROM documents),
      |newv AS (
      |  SELECT doc_id, md5(CASE WHEN doc_id % 50 = 0
      |    THEN text || ' [edited]' ELSE text END) AS d
      |  FROM documents WHERE doc_id >= 10
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS d
      |  FROM documents WHERE doc_id < 5)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.d IS NULL THEN 'added'
      |       WHEN n.d IS NULL THEN 'removed'
      |       WHEN o.d != n.d THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
      |WHERE (CASE WHEN o.d IS NULL THEN 'added'
      |       WHEN n.d IS NULL THEN 'removed'
      |       WHEN o.d != n.d THEN 'changed'
      |       ELSE 'unchanged' END) != 'unchanged'
      |ORDER BY doc_id""".stripMargin

  /** Okapi BM25 (rational Robertson idf — exact IEEE, hash-checkable;
    * the ln variant is the library default, excluded by libm policy). */
  def bm25Q(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.bm25(
        Tables.documents(s, dir).filter(col("doc_id") < 100),
        "doc_id", "text", logIdf = false)
      .withColumn("dl", col("dl").cast("long")) // oracle len() is BIGINT
      .orderBy(col("doc"), col("term"))

  val bm25Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id AS doc, $toksSql AS t
       |  FROM documents WHERE doc_id < 100),
       |tf AS (
       |  SELECT doc, dl, term, count(*) AS tf FROM (
       |    SELECT doc, len(t) AS dl, unnest(t) AS term FROM toks)
       |  GROUP BY doc, dl, term),
       |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
       |corpus AS (SELECT count(*) AS n_docs, sum(len(t)) AS dl_sum
       |           FROM toks)
       |SELECT doc, term, tf, CAST(dl AS BIGINT) AS dl, df_t,
       |  ((CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)) *
       |  ((tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
       |   (tf + CAST(1.2 AS DOUBLE) * ((1.0 - 0.75) + 0.75 *
       |      (dl / (CAST(dl_sum AS DOUBLE) / n_docs))))) AS bm25
       |FROM tf JOIN dfreq USING (term), corpus
       |ORDER BY doc, term""".stripMargin

  /** HTML → text extraction: the WET-style tag strip over a
    * deterministically constructed wrapper (the synthetic corpus has no
    * markup of its own), exercising comment/script/style removal, tag
    * spacing, and entity decode in both engines. */
  def stripHtmlQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        graft.functions.TextFunctions.stripHtml(concat(
          lit("<html><head><style>p{color:red}</style></head>" +
            "<body><!-- nav\nbar --><p class=\"x\">"),
          col("text"),
          lit("</p><script>var x = 1 < 2;</script>" +
            "&amp;&nbsp;&lt;tail&gt;&quot;&#39;</body></html>")))
          .as("clean"))
      .orderBy(col("doc_id"))

  val stripHtmlSql: String = {
    val wrapped =
      "'<html><head><style>p{color:red}</style></head>" +
        "<body><!-- nav" + "\n" + "bar --><p class=\"x\">' || text || " +
        "'</p><script>var x = 1 < 2;</script>" +
        "&amp;&nbsp;&lt;tail&gt;&quot;&#39;</body></html>'"
    raw"""SELECT doc_id, trim(regexp_replace(
         |  replace(replace(replace(replace(replace(replace(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace($wrapped, '(?s)<!--.*?-->', ' ', 'g'),
         |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |      '<[^>]*>', ' ', 'g'),
         |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
         |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
         |  '\s+', ' ', 'g')) AS clean
         |FROM documents WHERE doc_id < 200
         |ORDER BY doc_id""".stripMargin
  }

  def tfidfQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.tfidf(
        Tables.documents(s, dir).filter(col("doc_id") < 100),
        "doc_id", "text", logIdf = false)
      .orderBy(col("doc"), col("term"))

  val tfidfSql: String =
    s"""WITH tf AS (
       |  SELECT doc, term, count(*) AS tf FROM (
       |    SELECT doc_id AS doc, unnest($toksSql) AS term
       |    FROM documents WHERE doc_id < 100)
       |  GROUP BY doc, term),
       |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs
       |      FROM documents WHERE doc_id < 100)
       |SELECT doc, term, tf, df_t,
       |  tf * (CAST(n_docs AS DOUBLE) / df_t) AS tfidf
       |FROM tf JOIN dfreq USING (term), n
       |ORDER BY doc, term""".stripMargin

  /** Fixed-token-window chunking with overlap (LLM pre-tokenization
    * chunking; chunkSize 40, overlap 5). */
  def chunksQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.chunkDocuments(
        Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 40, overlap = 5)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunksSql: String =
    s"""SELECT doc_id, chunk_idx, chunk_text,
       |  CASE WHEN chunk_text = '' THEN 0
       |       ELSE len(string_split(chunk_text, ' ')) END AS n_tokens
       |FROM (
       |  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS chunk_idx,
       |    unnest(chunks) AS chunk_text
       |  FROM (
       |    SELECT doc_id, list_transform(
       |      generate_series(1, greatest(len(toks) - 40, 0) + 35, 35),
       |      s -> array_to_string(toks[s:s+39], ' ')) AS chunks
       |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)))
       |WHERE chunk_text != '' OR chunk_idx = 0
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Corpus-wide chunk-level dedup — exact dedup at fixed token-window
    * granularity, the scalable fixed-grid cousin of suffix-array
    * substring dedup (nvtext/deduplicate.hpp:40): chunk every doc into
    * 20-token windows, group byte-identical chunks corpus-wide, keep
    * the first (doc, idx) occurrence. Same skew-safe min-struct
    * aggregation shape as SegmentDedup.dedupSegmentsKeepFirst. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.chunkDocuments(
        Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 20, overlap = 0)
      .groupBy(md5(col("chunk_text")).as("digest"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__first"),
        count(lit(1)).as("n_dups"))
      .select(col("digest"), col("__first.doc_id").as("keep_doc"),
        col("__first.chunk_idx").cast("long").as("keep_idx"),
        col("n_dups"))
      .orderBy(col("digest"))

  val chunkDedupSql: String =
    s"""SELECT digest, keep_doc, keep_idx, n_dups FROM (
       |  SELECT md5(chunk_text) AS digest, doc_id AS keep_doc,
       |    chunk_idx AS keep_idx,
       |    row_number() OVER (PARTITION BY md5(chunk_text)
       |      ORDER BY doc_id, chunk_idx) AS rn,
       |    count(*) OVER (PARTITION BY md5(chunk_text)) AS n_dups
       |  FROM (
       |    SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS chunk_idx,
       |      unnest(chunks) AS chunk_text
       |    FROM (
       |      SELECT doc_id, list_transform(
       |        generate_series(1, greatest(len(toks) - 20, 0) + 20, 20),
       |        s -> array_to_string(toks[s:s+19], ' ')) AS chunks
       |      FROM (SELECT doc_id, $toksSql AS toks FROM documents)))
       |  WHERE chunk_text != '')
       |WHERE rn = 1 ORDER BY digest""".stripMargin

  /** Exact duplicated substrings (resolve_duplicates,
    * nvtext/deduplicate.hpp:66) at gram level: every 15-char gram
    * occurring at ≥ 2 positions of the slice, grouped on the exact
    * gram key ([[graft.operators.SubstringDedup.duplicatedGrams]]). The
    * DuckDB oracle computes the same set by brute force (the corpus is
    * small at the gate's SF). */
  def substringDups(s: SparkSession, dir: String): DataFrame =
    // doc_id % 10M < 30: the stress/detwin builders offset copied ids
    // by copy*10M, so this keeps the SAME 30 documents at plain sf dirs
    // (ids < 10M) while admitting every stress copy of them — the gate
    // corpus now grows N× with the stress multiple, making envelope
    // time ratios REAL scale evidence for SubstringDedup (the r12
    // filter `doc_id < 30` pinned the corpus at 30 docs forever). The
    // brute-force 15-gram oracle stays linear in corpus chars.
    graft.operators.SubstringDedup.duplicatedGrams(
        Tables.documents(s, dir).filter(col("doc_id") % 10000000L < 30),
        "doc_id", "text", minWidth = 15)
      .select(col("dup_text").as("gram"))
      .orderBy(col("gram"))

  /** Brute-force oracle: all 15-char grams with ≥ 2 occurrences
    * (positions, not documents — overlapping within-doc repeats count,
    * matching the suffix-array semantics). */
  val substringDupsSql: String =
    """SELECT gram FROM (
      |  SELECT unnest(list_transform(generate_series(1, greatest(len(text) - 14, 0)),
      |    s -> substr(text, s, 15))) AS gram
      |  FROM documents WHERE doc_id % 10000000 < 30)
      |GROUP BY gram HAVING count(*) >= 2 ORDER BY gram""".stripMargin

  /** Maximal duplicated SPANS (substringDups lifted from grams to
    * runs — the deletion list a training-data dedup pass actually
    * cuts): per document, every maximal [start, end) range covered by
    * 15-grams occurring ≥ 2 times corpus-wide; adjacent/overlapping
    * gram covers merge via the interval-union sweep. Same stress-
    * growing 30-doc slice as doc_substring_dups. */
  def duplicatedSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.SubstringDedup.duplicatedSpans(
        Tables.documents(s, dir).filter(col("doc_id") % 10000000L < 30),
        "doc_id", "text", minWidth = 15)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("span_start"), col("span_end"), col("span_len"))
      .orderBy(col("doc_id"), col("span_start"))

  /** Brute-force oracle: duplicated-gram lead positions → per-doc
    * gaps-and-islands (a new island only where a lead clears the
    * running covered peak) → min/max span bounds. 0-based positions
    * (DuckDB substr is 1-based). */
  val duplicatedSpansSql: String =
    """WITH docs AS (SELECT doc_id, text FROM documents
      |              WHERE doc_id % 10000000 < 30 AND text IS NOT NULL),
      |grams AS (
      |  SELECT doc_id, s - 1 AS pos, substr(text, s, 15) AS g
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, greatest(len(text) - 14, 0))) AS s
      |        FROM docs)),
      |leads AS (
      |  SELECT doc_id, pos FROM grams
      |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2)),
      |sweep AS (
      |  SELECT doc_id, pos,
      |    max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS peak
      |  FROM leads),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN peak IS NULL OR pos > peak THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM sweep)
      |SELECT doc_id, min(pos) AS span_start,
      |  max(pos) + 15 AS span_end,
      |  max(pos) + 15 - min(pos) AS span_len
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** Cross-corpus contamination SPANS: maximal ranges of the even-id
    * (train) documents covered by 15-grams also present in the odd-id
    * (eval) documents — cut these and no 15-gram bridges train→eval.
    * Pair-mode ranking (duplicatedGramsPair's O(occurrences) bound). */
  def contaminatedSpans(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir)
      .filter(col("doc_id") % 10000000L < 60 && col("text").isNotNull)
    graft.operators.SubstringDedup.contaminatedSpans(
        corpus.filter(pmod(col("doc_id"), lit(2)) === 0),
        corpus.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", minWidth = 15)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("span_start"), col("span_end"), col("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  val contaminatedSpansSql: String =
    """WITH docs AS (SELECT doc_id, doc_id % 2 AS src, text FROM documents
      |              WHERE doc_id % 10000000 < 60 AND text IS NOT NULL),
      |grams AS (
      |  SELECT doc_id, src, s - 1 AS pos, substr(text, s, 15) AS g
      |  FROM (SELECT doc_id, src, text,
      |          unnest(generate_series(1, greatest(len(text) - 14, 0))) AS s
      |        FROM docs)),
      |leads AS (
      |  SELECT doc_id, pos FROM grams
      |  WHERE src = 0
      |    AND g IN (SELECT DISTINCT g FROM grams WHERE src = 1)),
      |sweep AS (
      |  SELECT doc_id, pos,
      |    max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS peak
      |  FROM leads),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN peak IS NULL OR pos > peak THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM sweep)
      |SELECT doc_id, min(pos) AS span_start,
      |  max(pos) + 15 AS span_end,
      |  max(pos) + 15 - min(pos) AS span_len
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** Hot-duplicate-clique substring dedup on the exact gram key
    * ([[graft.operators.SubstringDedup.duplicatedGrams]] — the
    * O(occurrences) bound of nvtext/deduplicate.hpp:40's global suffix
    * array on a gram shared by m documents, where a pair-verify design
    * pays C(m,2) verify pairs).
    * The clique is PLANTED deterministically: every doc_id % 10M < 500
    * document gets a fixed 24-char sentinel appended, so one run of
    * 15-grams is shared by all 500 docs at a plain sf dir (C(500,2) =
    * 125k pairs for a pair-verify design; ONE 500-row group here) —
    * and by 500·N docs at an N× stress/detwin copy, making envelope
    * time ratios direct hot-clique scale evidence. Output is the full
    * duplicated-gram set WITH exact occurrence counts (a stronger check
    * than the set-only substring gate: the brute-force oracle must
    * agree on every count). */
  def hotCliqueDups(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir)
      .filter(col("doc_id") % 10000000L < 500 && col("text").isNotNull)
      .select(col("doc_id"),
        concat(col("text"), lit(" "), lit(HotCliqueSentinel)).as("text"))
    graft.operators.SubstringDedup
      .duplicatedGrams(corpus, "doc_id", "text", minWidth = 15)
      .select(col("dup_text").as("gram"), col("n_occurrences").as("n_occ"))
      .orderBy(col("gram"))
  }

  private val HotCliqueSentinel = "##GLOBAL*SA*HOT*CLIQUE##"

  /** Cross-corpus contamination at the hot-clique bound
    * ([[graft.operators.SubstringDedup.duplicatedGramsPair]],
    * resolve_duplicates_pair deduplicate.hpp:95 on the exact gram
    * key): the SAME planted-sentinel corpus as doc_hotclique_dups,
    * split train/eval on doc_id parity — the sentinel grams are a
    * contamination clique present in every doc of BOTH sources, where
    * a pair-verify design would check ~n_train·n_eval pairs.
    * Output: every gram in both sources WITH exact per-source counts
    * (stronger than doc_contamination's set-only projection). */
  def hotCliqueContamination(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir)
      .filter(col("doc_id") % 10000000L < 500 && col("text").isNotNull)
      .select(col("doc_id"),
        concat(col("text"), lit(" "), lit(HotCliqueSentinel)).as("text"))
    graft.operators.SubstringDedup.duplicatedGramsPair(
        corpus.filter(pmod(col("doc_id"), lit(2)) === 0),
        corpus.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", minWidth = 15)
      .select(col("dup_text").as("gram"),
        col("n_src0").as("n_train"), col("n_src1").as("n_eval"))
      .orderBy(col("gram"))
  }

  // ORACLE SEMANTICS NOTE (both hot-clique SQLs): DuckDB substr/len
  // index CODE POINTS while the engine (SubstringDedup.keyedGrams)
  // indexes UTF-16 units — the two gram sets coincide only on BMP-only
  // text. The testdata corpus is BMP-only (asserted by
  // DedupSpec "gate corpus is BMP-only"), so the gates are exact; an
  // astral-plane corpus would need a UTF-16-faithful oracle. The
  // engine's own astral correctness is pinned by the DedupSpec
  // surrogate-pair specs + the pre-filter mutation in
  // tools/mutation_check.py (relapse of commit 49939a1 goes red).
  val hotCliqueContaminationSql: String =
    s"""SELECT gram,
       |  CAST(sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_train,
       |  CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_eval
       |FROM (
       |  SELECT doc_id % 2 AS src,
       |    unnest(list_transform(generate_series(1, greatest(len(t) - 14, 0)),
       |      s -> substr(t, s, 15))) AS gram
       |  FROM (SELECT doc_id, text || ' ' || '$HotCliqueSentinel' AS t
       |        FROM documents
       |        WHERE doc_id % 10000000 < 500 AND text IS NOT NULL))
       |GROUP BY gram
       |HAVING count(DISTINCT src) = 2 ORDER BY gram""".stripMargin

  val hotCliqueDupsSql: String =
    s"""SELECT gram, CAST(count(*) AS BIGINT) AS n_occ FROM (
       |  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 14, 0)),
       |    s -> substr(t, s, 15))) AS gram
       |  FROM (SELECT text || ' ' || '$HotCliqueSentinel' AS t
       |        FROM documents
       |        WHERE doc_id % 10000000 < 500 AND text IS NOT NULL))
       |GROUP BY gram HAVING count(*) >= 2 ORDER BY gram""".stripMargin

  /** END-TO-END curation pipeline — the flagship composition: score →
    * language filter → quality filter → normalized exact dedup (keep
    * first) → token-budget packing, all in one plan (three shuffles:
    * dedup window, pack window, final sort). Every stage reuses an
    * independently oracle-proven building block, and the composed
    * oracle mirrors them stage for stage. */
  def curation(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("quality", qualityScore("toks"))
      .withColumn("lang", langId(col("toks")))
      .filter(col("lang") === "en" && col("quality") >= 0.5)
    val survivors = Dedup.normalizedSurvivors(scored, "doc_id", "text")
    graft.operators.TextPipeline.packByTokens(
        survivors.select(col("doc_id"), col("quality"),
          size(col("toks")).as("n_tokens")),
        "doc_id", "n_tokens", budgetTokens = 100, groups = 4)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("pack_group"), col("bin"))
      .orderBy(col("doc_id"))
  }

  val curationSql: String = {
    raw"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |scored AS (
         |  SELECT doc_id, text, toks,
         |    $qualityExprSql AS quality,
         |    $langScoresSql,
         |    $langCaseSql AS lang
         |  FROM t),
         |kept AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.5),
         |surv AS (SELECT doc_id, quality, toks FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY md5(trim(regexp_replace(strip_accents(lower(
         |      nfc_normalize(text))), '\s+', ' ', 'g')))
         |    ORDER BY doc_id) AS rn FROM kept) WHERE rn = 1),
         |packed AS (SELECT doc_id, quality, CAST(len(toks) AS INT) AS n_tokens,
         |    doc_id % 4 AS pack_group,
         |    CAST(coalesce(sum(len(toks)) OVER (PARTITION BY doc_id % 4
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS tokens_before
         |  FROM surv)
         |SELECT doc_id, quality, n_tokens, pack_group,
         |  CAST(floor(CAST(tokens_before AS DOUBLE) / 100) AS BIGINT) AS bin
         |FROM packed ORDER BY doc_id""".stripMargin
  }

  /** Train/eval CONTAMINATION detection (resolve_duplicates_pair,
    * nvtext/deduplicate.hpp:95) at gram level: every 15-char gram
    * present in BOTH the even and the odd doc_id halves (stand-ins for
    * train and eval sets), from the exact gram key's pair mode
    * ([[graft.operators.SubstringDedup.duplicatedGramsPair]]). */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    // % 10M (the stress-copy key offset, which is even, so parity is
    // copy-stable): plain sf dirs unchanged, stress/detwin corpora
    // grow N x - same round-13 treatment as substringDups, giving the
    // PAIR mode real scale evidence too
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 10000000L < 60)
    graft.operators.SubstringDedup.duplicatedGramsPair(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", minWidth = 15)
      .select(col("dup_text").as("gram"))
      .orderBy(col("gram"))
  }

  /** Brute-force oracle: 15-char grams occurring in BOTH the even and
    * the odd doc_id halves. */
  val contaminationSql: String =
    """SELECT gram FROM (
      |  SELECT doc_id % 2 AS src,
      |    unnest(list_transform(generate_series(1, greatest(len(text) - 14, 0)),
      |      s -> substr(text, s, 15))) AS gram
      |  FROM documents WHERE doc_id % 10000000 < 60)
      |GROUP BY gram HAVING count(DISTINCT src) = 2 ORDER BY gram""".stripMargin

  /** PII redaction (training-data scrub pass). The synthetic corpus
    * contains no PII, so each doc is salted with a deterministic email /
    * IP / phone before scrubbing — the oracle applies the IDENTICAL
    * patterns (both engines share [[TextPipeline.PiiPatterns]], which is
    * dialect-portable regex by construction). */
  /** Deterministic PII salt over (doc_id, text) — the synthetic corpus
    * contains no PII, so each doc gets a doc_id-keyed email / IP /
    * phone appended before scrubbing. Shared (with [[saltedTextSql]])
    * by doc_redact_pii and StreamPack's streaming curation gate.
    *
    * The trailing ` ref doc<id-as-letters>` token survives redaction
    * on purpose (letters only — matches no PII pattern at ANY id
    * width): the corpus plants byte-identical duplicate documents for
    * the dedup family, and without an id-dependent survivor the
    * POST-redaction digests of two distinct originals collide — found
    * at the round-11 de-twinned 5× envelope, where stream_curation's
    * dedup stage (correctly) dropped 36 later twins that the
    * no-dedup batch oracle kept. The digit→letter translate (not the
    * raw id) is what makes the token redaction-proof: a ≥9-digit
    * stress-copy id would otherwise re-match the phone pattern. */
  private[queries] def saltedText(text: Column, id: Column): Column =
    concat(text,
      lit(" contact user"), id, lit("@mail.example or 10.0."),
      pmod(id, lit(256)), lit(".7 or call +1 (555) 123-"),
      lpad(pmod(id, lit(10000)).cast("string"), 4, "0"),
      lit(" ref doc"),
      translate(id.cast("string"), "0123456789", "abcdefghij"))

  /** DuckDB twin of [[saltedText]] over columns (doc_id, text). */
  private[queries] val saltedTextSql: String =
    "text || ' contact user' || doc_id || " +
      "'@mail.example or 10.0.' || (doc_id % 256) || " +
      "'.7 or call +1 (555) 123-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ref doc' || " +
      "translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')"

  /** DuckDB twin of TextPipeline.redactPii's chained regexp_replace.
    * DuckDB single-quoted literals are escape-free: the pattern strings
    * embed verbatim (they contain no quotes by construction). */
  private[queries] def redactChainSql(inner: String): String =
    graft.operators.TextPipeline.PiiPatterns.foldLeft(inner) {
      case (c, (pat, rep)) => s"regexp_replace($c, '$pat', '$rep', 'g')"
    }

  def redactPii(s: SparkSession, dir: String): DataFrame = {
    val salted = Tables.documents(s, dir).select(col("doc_id"),
      saltedText(col("text"), col("doc_id")).as("text2"))
    graft.operators.TextPipeline.redactPii(salted, "text2")
      .select(col("doc_id"), col("redacted"))
      .orderBy(col("doc_id"))
  }

  val redactPiiSql: String =
    s"""SELECT doc_id, ${redactChainSql("text2")} AS redacted
       |FROM (SELECT doc_id, $saltedTextSql AS text2
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Sequence packing: documents → token-budget bins, windows
    * parallelized across hash-derived pack groups. */
  def packBins(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.packSequences(
        Tables.documents(s, dir), "doc_id", "text",
        budgetTokens = 200, groups = 8)
      .orderBy(col("doc_id"))

  val packBinsSql: String =
    s"""SELECT doc_id, pack_group,
       |  CAST(floor(CAST(tokens_before AS DOUBLE) / 200) AS BIGINT) AS bin,
       |  n_tokens, tokens_before
       |FROM (
       |  SELECT doc_id, doc_id % 8 AS pack_group,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    CAST(coalesce(sum(len(toks)) OVER (PARTITION BY doc_id % 8
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Multimodal plumbing: ingest text as binary payload, run the stub
    * decoder (real codec is a drop-in; schema/partitioning are real). */
  def multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeStub(
        Multimodal.ingestFromText(Tables.documents(s, dir), "doc_id", "text"))
      .select(col("media_id"), col("n_bytes"), col("fake_width"), col("fake_height"))
      .orderBy(col("media_id"))

  val multimodalSql: String =
    """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
      |  ascii(substring(md5(text), 1, 1)) AS fake_width,
      |  ascii(substring(md5(text), 2, 1)) AS fake_height
      |FROM documents ORDER BY media_id""".stripMargin

  /** REAL media decode round trip across all four JVM-decodable
    * formats: per doc, ENCODE a deterministic RIFF/WAVE PCM-16 payload
    * (constant amplitude (doc_id%1000+1)*16 shorts, 64 samples @8 kHz
    * mono), a solid-color 24-bit BMP (w=doc_id%4+1, h=doc_id%3+1), a
    * solid-color PNG (w=doc_id%5+1, h=doc_id%2+1 — lossless, so the
    * decoded channel means replay exactly), and a solid-color JPEG
    * (w=doc_id%4+2, h=doc_id%3+2 — LOSSY, so its means are gated by
    * in-plan |decoded−expected| ≤ 8 bounds that project to 1.0, the
    * sketch-accuracy-gate pattern), then run the genuine decoders
    * ([[graft.operators.MediaCodec]]: hand-written WAV/BMP byte
    * codecs, JDK `javax.imageio` for PNG/JPEG) and emit audio stats
    * (duration/RMS/peak/ZCR) and image stats (dims/channel means).
    * Every emitted value is analytically predictable from doc_id, so
    * DuckDB recomputes the EXPECTED table without decoding — a true
    * encode→decode→stats round-trip oracle. Compressed payload sizes
    * are encoder-dependent, so n_bytes is nulled for PNG/JPEG rows
    * (it is meaningless for a compressed container anyway). */
  def mediaDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.MediaCodec
    // media synthesis + decode are CPU-dense map kernels: guard against
    // the single-row-group scan serializing them onto one core
    val ids = graft.operators.Spread.spread(Tables.documents(s, dir)
      .select(col("doc_id").cast("long"))).as[Long]
    def solid(w: Int, h: Int, r: Long, g: Long, b: Long): Array[Byte] =
      Array.tabulate(w * h * 3)(i => (i % 3 match {
        case 0 => r
        case 1 => g
        case _ => b
      }).toByte)
    val media = ids.mapPartitions(_.flatMap { id =>
      val amp = ((id % 1000) + 1).toInt * 16
      val wav = MediaCodec.wavEncode(Array.fill(64)(amp.toShort), 8000, 1)
      val w = (id % 4 + 1).toInt
      val h = (id % 3 + 1).toInt
      val bmp = MediaCodec.bmpEncode(w, h,
        solid(w, h, id % 256, (id * 7) % 256, (id * 13) % 256))
      val wp = (id % 5 + 1).toInt
      val hp = (id % 2 + 1).toInt
      val png = MediaCodec.pngEncode(wp, hp,
        solid(wp, hp, id % 256, (id * 11) % 256, (id * 17) % 256))
      val wj = (id % 4 + 2).toInt
      val hj = (id % 3 + 2).toInt
      val jpg = MediaCodec.jpegEncode(wj, hj,
        solid(wj, hj, (id * 3) % 256, (id * 5) % 256, (id * 7) % 256))
      Iterator((id, wav, "audio/wav"), (id, bmp, "image/bmp"),
        (id, png, "image/png"), (id, jpg, "image/jpeg"))
    }).toDF("media_id", "payload", "mime")
    def jpegGate(c: String, expected: org.apache.spark.sql.Column) =
      when(col("mime") === "image/jpeg",
        when(abs(col(c) - expected) <= 8.0, lit(1.0)).otherwise(col(c)))
        .otherwise(col(c))
    Multimodal.decodeMedia(media)
      .withColumn("n_bytes",
        when(col("mime").isin("image/png", "image/jpeg"),
          lit(null).cast("int")).otherwise(col("n_bytes")))
      .withColumn("mean_r", jpegGate("mean_r", (col("media_id") * 3) % 256))
      .withColumn("mean_g", jpegGate("mean_g", (col("media_id") * 5) % 256))
      .withColumn("mean_b", jpegGate("mean_b", (col("media_id") * 7) % 256))
      .orderBy(col("mime"), col("media_id"))
  }

  val mediaDecodeSql: String =
    """SELECT doc_id AS media_id, 'audio/wav' AS mime, CAST(172 AS INT) AS n_bytes,
      |  64.0 / 8000.0 AS duration_s,
      |  CAST((doc_id % 1000 + 1) * 16 AS DOUBLE) / 32768.0 AS rms,
      |  CAST((doc_id % 1000 + 1) * 16 AS DOUBLE) / 32768.0 AS peak,
      |  0.0 AS zcr,
      |  CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
      |  CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
      |  CAST(NULL AS DOUBLE) AS mean_b
      |FROM documents
      |UNION ALL
      |SELECT doc_id, 'image/bmp',
      |  CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS INT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  CAST(NULL AS DOUBLE),
      |  CAST(w AS INT), CAST(h AS INT),
      |  CAST(doc_id % 256 AS DOUBLE), CAST((doc_id * 7) % 256 AS DOUBLE),
      |  CAST((doc_id * 13) % 256 AS DOUBLE)
      |FROM (SELECT doc_id, doc_id % 4 + 1 AS w, doc_id % 3 + 1 AS h
      |      FROM documents)
      |UNION ALL
      |SELECT doc_id, 'image/png', CAST(NULL AS INT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  CAST(NULL AS DOUBLE),
      |  CAST(doc_id % 5 + 1 AS INT), CAST(doc_id % 2 + 1 AS INT),
      |  CAST(doc_id % 256 AS DOUBLE), CAST((doc_id * 11) % 256 AS DOUBLE),
      |  CAST((doc_id * 17) % 256 AS DOUBLE)
      |FROM documents
      |UNION ALL
      |SELECT doc_id, 'image/jpeg', CAST(NULL AS INT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |  CAST(NULL AS DOUBLE),
      |  CAST(doc_id % 4 + 2 AS INT), CAST(doc_id % 3 + 2 AS INT),
      |  1.0, 1.0, 1.0
      |FROM documents
      |ORDER BY mime, media_id""".stripMargin

  /** REAL image resize round trip ([[Multimodal.resizeImages]]):
    * per doc, encode a GRADIENT image (r varies by column, g by row,
    * b constant — so the resample MAPPING is observable, not just the
    * dimensions) as a BMP (media_id = 2·doc) and a PNG (2·doc+1, both
    * lossless), nearest-neighbor resize to 2×2, re-encode as BMP, and
    * re-decode with the genuine decoder. The 2×2 output samples source
    * columns {0, ⌊w/2⌋} and rows {0, ⌊h/2⌋}, so every channel mean is
    * an exact half-sum of two integers — DuckDB recomputes the whole
    * expected table from media_id without touching a pixel. */
  def mediaResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{MediaCodec, Multimodal}
    // media synthesis + decode are CPU-dense map kernels: guard against
    // the single-row-group scan serializing them onto one core
    val ids = graft.operators.Spread.spread(Tables.documents(s, dir)
      .select(col("doc_id").cast("long"))).as[Long]
    def grad(w: Int, h: Int, m: Long): Array[Byte] =
      Array.tabulate(w * h * 3) { i =>
        val px = i / 3
        val x = px % w
        val y = px / w
        (i % 3 match {
          case 0 => (x * 40 + m) % 256
          case 1 => (y * 40 + m * 7) % 256
          case _ => (m * 13) % 256
        }).toByte
      }
    val media = ids.mapPartitions(_.flatMap { id =>
      val w = (id % 4 + 2).toInt
      val h = (id % 3 + 2).toInt
      val mb = id * 2
      val mp = id * 2 + 1
      val wp = (id % 5 + 2).toInt
      Iterator(
        (mb, MediaCodec.bmpEncode(w, h, grad(w, h, mb)), "image/bmp"),
        (mp, MediaCodec.pngEncode(wp, 2, grad(wp, 2, mp)), "image/png"))
    }).toDF("media_id", "payload", "mime")
    // fused pipeline: resizeImagesDecoded carries the resized pixels so
    // the stats stage computes from them directly — each payload is
    // decoded ONCE (round-8 verdict ask #8; MediaCodecSpec pins the
    // decode count AND row-identity with the re-decode pipeline)
    Multimodal.statsFromDecoded(Multimodal.resizeImagesDecoded(media, 2, 2))
      .select(col("media_id"), col("mime"), col("n_bytes"),
        col("width"), col("height"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy(col("media_id"))
  }

  val mediaResizeSql: String =
    """WITH m AS (
      |  SELECT doc_id * 2 AS media_id,
      |    (doc_id % 4) + 2 AS w, (doc_id % 3) + 2 AS h FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, (doc_id % 5) + 2, 2 FROM documents)
      |SELECT media_id, 'image/bmp' AS mime, CAST(70 AS INT) AS n_bytes,
      |  CAST(2 AS INT) AS width, CAST(2 AS INT) AS height,
      |  (CAST(media_id % 256 AS DOUBLE) +
      |    ((w // 2) * 40 + media_id) % 256) / 2.0 AS mean_r,
      |  (CAST((media_id * 7) % 256 AS DOUBLE) +
      |    ((h // 2) * 40 + media_id * 7) % 256) / 2.0 AS mean_g,
      |  CAST((media_id * 13) % 256 AS DOUBLE) AS mean_b
      |FROM m ORDER BY media_id""".stripMargin

  /** Multimodal retrieval composition: ingest → BATCHED stub decode →
    * digest-derived features → exact cosine top-3. Oracle-checked:
    * the stub feature is unsigned(md5_byte_i)/255.0f for i < 8 over the
    * UTF-8 payload, and DuckDB's md5 hashes the same bytes — the oracle
    * rebuilds each byte from its hex pair, divides in FLOAT, and runs
    * the embedKnnSql top-k shape on the result. Batch-invariance of the
    * batched decode stays unit-tested in OperatorsMiscSpec. */
  def multimodalEmbed(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.ingestFromText(
      Tables.documents(s, dir), "doc_id", "text")
    // filter BEFORE the decode: mapPartitions is a typed barrier, so a
    // post-decode filter would run the (real, expensive) codec over the
    // whole corpus to keep 10 query rows
    val queryFeats = Multimodal.decodeFeaturesBatched(
      media.filter(col("media_id") < 10))
    val corpusFeats = Multimodal.decodeFeaturesBatched(media)
    Similarity.knnBrute(corpusFeats, queryFeats, k = 3,
        idCol = "media_id", vecCol = "feature")
      .orderBy(col("q_id"), col("rank"))
  }

  val multimodalEmbedSql: String = {
    // md5 hex pair i → unsigned byte → FLOAT division, matching
    // stubDecodeBatch's Byte.toUnsignedInt(b) / 255.0f bit for bit
    val feat = "list_transform(generate_series(1, 8), i -> " +
      "CAST((strpos('0123456789abcdef', substr(h, 2*i - 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS FLOAT) " +
      "/ CAST(255 AS FLOAT))"
    s"""WITH fv AS (
       |  SELECT media_id, $feat AS feature FROM (
       |    SELECT CAST(doc_id AS BIGINT) AS media_id, md5(text) AS h
       |    FROM documents))
       |SELECT q_id, rank, n_id, sim FROM (
       |  SELECT q_id, n_id, sim, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.media_id AS q_id, c.media_id AS n_id,
       |      ${dpSql("q.feature", "c.feature")} /
       |        (sqrt(${dpSql("q.feature", "q.feature")}) *
       |         sqrt(${dpSql("c.feature", "c.feature")})) AS sim
       |    FROM (SELECT * FROM fv WHERE media_id < 10) q, fv c
       |    WHERE q.media_id != c.media_id))
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** Brute-force cosine top-3 neighbors for the first 10 vectors —
    * exact ANN baseline; all math in sequential double folds. */
  def embedKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnBrute(emb, emb.filter(col("vec_id") < 10), k = 3)
      .orderBy(col("q_id"), col("rank"))
  }

  val embedKnnSql: String = {
    val dp = "list_aggregate(list_transform(list_zip(%s, %s), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    val dqn = dp.format("q_vec", "n_vec")
    val dqq = dp.format("q_vec", "q_vec")
    val dnn = dp.format("n_vec", "n_vec")
    s"""SELECT q_id, rank, n_id, sim FROM (
       |  SELECT q_id, n_id, sim, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      $dqn / (sqrt($dqq) * sqrt($dnn)) AS sim
       |    FROM (SELECT vec_id, embedding AS q_vec FROM embeddings
       |          WHERE vec_id < 10) q,
       |         (SELECT vec_id, embedding AS n_vec FROM embeddings) c
       |    WHERE q.vec_id != c.vec_id))
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** Hard-negative mining: top-3 most-similar vectors per query BELOW
    * the 0.95 near-dup ceiling — the false-negative filter of dense
    * retrieval training (a too-similar "negative" is probably an
    * unlabeled positive). Same exact-cosine contract as embed_knn. */
  def embedHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 3,
        maxSim = 0.95)
      .orderBy(col("q_id"), col("rank"))
  }

  val embedHardNegativesSql: String = {
    val dp = "list_aggregate(list_transform(list_zip(%s, %s), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    val dqn = dp.format("q_vec", "n_vec")
    val dqq = dp.format("q_vec", "q_vec")
    val dnn = dp.format("n_vec", "n_vec")
    s"""SELECT q_id, rank, n_id, sim FROM (
       |  SELECT q_id, n_id, sim, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      $dqn / (sqrt($dqq) * sqrt($dnn)) AS sim
       |    FROM (SELECT vec_id, embedding AS q_vec FROM embeddings
       |          WHERE vec_id < 10) q,
       |         (SELECT vec_id, embedding AS n_vec FROM embeddings) c
       |    WHERE q.vec_id != c.vec_id)
       |  WHERE sim < CAST(0.95 AS DOUBLE))
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** LSH-bucketed approximate KNN (the scale path). Oracle-checked: the
    * sign-LSH hyperplanes are deterministic plan literals
    * (Similarity.lshPlane), so the oracle embeds the identical doubles
    * and recomputes bucket = Σ 2^b·[dot > 0] with the same sequential
    * fold; candidate join, cosine, and top-k then mirror embedKnnSql. */
  def embedKnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnLsh(emb, emb.filter(col("vec_id") < 10), k = 3, bits = 4)
      .orderBy(col("q_id"), col("rank"))
  }

  private def planeLit(plane: Int): String =
    Similarity.lshPlane(plane, 64).map(_.toString).mkString("[", ",", "]")

  private def lshBucketSql(vec: String, bits: Int, table: Int = 0): String =
    (0 until bits).map { b =>
      s"(CASE WHEN ${dpSql(vec, planeLit(table * bits + b))} > 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  val embedKnnLshSql: String =
    s"""SELECT q_id, rank, n_id, sim FROM (
       |  SELECT q_id, n_id, sim, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      ${dpSql("q.embedding", "c.embedding")} /
       |        (sqrt(${dpSql("q.embedding", "q.embedding")}) *
       |         sqrt(${dpSql("c.embedding", "c.embedding")})) AS sim
       |    FROM (SELECT vec_id, embedding,
       |            ${lshBucketSql("embedding", 4)} AS bucket
       |          FROM embeddings WHERE vec_id < 10) q
       |    JOIN (SELECT vec_id, embedding,
       |            ${lshBucketSql("embedding", 4)} AS bucket
       |          FROM embeddings) c USING (bucket)
       |    WHERE q.vec_id != c.vec_id))
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** IVF coarse-quantizer ANN (inverted-file architecture).
    * Oracle-checked: the default quantizer's seeds are the nCells rows
    * with the smallest portable hashUnit(id, SeedTag) — DuckDB computes
    * the identical md5-derived doubles — and assignment/probe/top-k are
    * the same sequential-fold cosine argmax on both sides. */
  def embedKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.knnIvf(emb, emb.filter(col("vec_id") < 10), k = 3,
        nCells = 16, nprobe = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Oracle SQL for Curation.hashUnit(id, Similarity.SeedTag) — same
    * md5 → 60-bit int → /2^60 pipeline as CurationPack.uSql. */
  private def ivfUSql(keyExpr: String): String =
    s"(('0x' || substring(md5('${Similarity.SeedTag}|' || " +
      s"CAST($keyExpr AS VARCHAR)), 1, 15))::BIGINT::DOUBLE " +
      "/ 1152921504606846976.0)"

  /** Cosine between two list expressions in the engine's exact
    * arithmetic order: dot / (sqrt(dot)·sqrt(dot)). */
  private def cosSql(a: String, b: String): String =
    s"${dpSql(a, b)} / (sqrt(${dpSql(a, a)}) * sqrt(${dpSql(b, b)}))"

  /** Nearest-`nprobe`-cells assignment: argmax cosine over the centroid
    * relation, ties to the smallest cell_id (the broadcast model's
    * strict-beats order). `vecsRel` must expose (n_id, n_vec),
    * `centRel` (cell_id, c_vec). */
  private def assignCellsSql(vecsRel: String, centRel: String,
      nprobe: Int): String =
    s"""SELECT n_id, n_vec, cell_id FROM (
       |  SELECT v.n_id, v.n_vec, c.cell_id, row_number() OVER (
       |    PARTITION BY v.n_id
       |    ORDER BY ${cosSql("v.n_vec", "c.c_vec")} DESC, c.cell_id) AS rn
       |  FROM ($vecsRel) v CROSS JOIN ($centRel) c)
       |WHERE rn <= $nprobe""".stripMargin

  val embedKnnIvfSql: String = {
    val vecs = "SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings"
    val seeds = s"""SELECT vec_id AS cell_id, embedding AS c_vec
       |FROM embeddings ORDER BY ${ivfUSql("vec_id")}, vec_id LIMIT 16"""
      .stripMargin
    s"""WITH asg AS (${assignCellsSql(vecs, seeds, 1)}),
       |prb AS (${assignCellsSql(s"$vecs WHERE vec_id < 10", seeds, 2)})
       |SELECT q_id, rank, n_id, sim FROM (
       |  SELECT q_id, n_id, sim, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT p.n_id AS q_id, a.n_id AS n_id,
       |      ${cosSql("p.n_vec", "a.n_vec")} AS sim
       |    FROM asg a JOIN prb p USING (cell_id)
       |    WHERE p.n_id != a.n_id))
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** ANN quality gate: recall@3 of the IVF scale path against the
    * brute-force ground truth, per query — the acceptance metric every
    * production ANN deployment tracks before swapping the exact path
    * out. Both legs are the already-gated operators ([[embedKnn]],
    * [[embedKnnIvf]]); the recall join touches only the two k-row
    * top-k sets per query, and `recall = hits / k` is one IEEE
    * division of exact integers — identical on both engines. */
  def embedAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.knnBrute(emb, q, k = 3)
      .select(col("q_id"), col("n_id"))
    val approx = Similarity.knnIvf(emb, q, k = 3, nCells = 16, nprobe = 2)
      .select(col("q_id").as("a_qid"), col("n_id").as("a_nid"))
    exact
      .join(approx, col("q_id") === col("a_qid") &&
        col("n_id") === col("a_nid"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_nid")).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(3.0))
      .orderBy(col("q_id"))
  }

  val embedAnnRecallSql: String =
    s"""WITH ex AS ($embedKnnSql),
       |ap AS ($embedKnnIvfSql)
       |SELECT e.q_id AS q_id, CAST(count(a.n_id) AS BIGINT) AS n_hits,
       |  CAST(count(a.n_id) AS DOUBLE) / 3.0 AS recall
       |FROM ex e LEFT JOIN ap a ON e.q_id = a.q_id AND e.n_id = a.n_id
       |GROUP BY e.q_id ORDER BY q_id""".stripMargin

  /** Embedding-cosine near-dup pairs, exact all-pairs form (the north
    * star's fifth dedup method). Threshold 0.4: the synthetic embeddings
    * are near-orthogonal (max pairwise cosine ≈ 0.51), so a production
    * 0.95 cut would be vacuously empty here; the operator is identical
    * either way. */
  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsExact(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  val embedNearDupSql: String = {
    val dp = "list_aggregate(list_transform(list_zip(%s, %s), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
    s"""SELECT id_a, id_b, sim FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dp.format("a.embedding", "b.embedding")} /
       |      (sqrt(${dp.format("a.embedding", "a.embedding")}) *
       |       sqrt(${dp.format("b.embedding", "b.embedding")})) AS sim
       |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
       |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** Multi-table sign-LSH near-dup pairs (the scale path for
    * [[embedNearDup]]) — recall vs exact in OperatorsSpec.
    * 4 bits × 8 tables here (vs the 3×12 default): at this corpus's
    * unusually low 0.4 threshold, wider buckets would admit most of the
    * all-pairs space as candidates — more bits prune harder, more
    * tables would buy recall production thresholds don't need.
    * Oracle-checked the same way as embedKnnLsh: table t's bucket uses
    * plane literals t·bits..t·bits+bits−1, candidates are distinct
    * (id_a < id_b) sharing any (table, bucket), then exact cosine ≥
    * threshold — the identical double arithmetic on both sides. */
  /** Corpus-adaptive width (bits = 0 → [[Similarity.autoLshBits]]):
    * the round-11 25× envelope measured fixed bits=4 at a 485× time
    * ratio for 25× data (16 buckets × 3k vectors each — within-bucket
    * pairs quadratic); the adaptive rule keeps expected bucket
    * occupancy ≤ 125 at any SF. The oracle reproduces the width choice
    * from count(*) with the SAME integer thresholds and gates each
    * static plane literal by it (plane identity is width-independent —
    * [[Similarity.LshPlaneStride]]). */
  def embedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4,
        bits = 0, tables = 8)
      .orderBy(col("id_a"), col("id_b"))

  /** Boundary gate for the corpus-adaptive granularity rules
    * ([[Similarity.autoLshBits]] / [[Similarity.autoCells]] — the
    * round-11 fixed-granularity fixes): slices of the events table
    * sized to STRADDLE the integer thresholds (2000 is a boundary of
    * BOTH rules: 125·2^4 for bits and the ⌈n/250⌉ cell step; 4000 the
    * next bits step; 100 exercises the floor clamps). Each engine
    * counts every slice itself and derives width/cells from ITS OWN
    * count — the Spark side calls the real Scala functions on the
    * aggregated counts (rule-sized driver compute, |sizes| rows), the
    * oracle recomputes with the same integer CASE arithmetic — so the
    * row hash fails if either engine's threshold rule drifts by even
    * one. Slices are offsets from min(event_id), so the gate is
    * well-defined on stress copies too. */
  def embedAutoGranularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sizes = Seq(100L, 1999L, 2000L, 2001L, 2250L, 2251L,
      4000L, 4001L, 8000L, 8001L)
    val ev = Tables.events(s, dir).select($"event_id")
    // 1-row aggregates: min, then ONE distributed pass of conditional
    // counts (|sizes| columns); the rule itself runs driver-side on
    // those counts — that is the point: the gate exercises the REAL
    // Scala functions, not a SQL re-implementation of them.
    val mn = ev.agg(min($"event_id")).head().getLong(0)
    val countCols =
      sizes.map(k => count(when($"event_id" - mn < k, 1)).as(s"n_$k"))
    val counts = ev.agg(countCols.head, countCols.tail: _*).head()
    val rows = sizes.zipWithIndex.map { case (k, i) =>
      val n = counts.getLong(i)
      (k, n, Similarity.autoLshBits(n).toLong,
        Similarity.autoCells(n).toLong)
    }
    rows.toDF("slice_size", "n", "lsh_bits", "cells")
      .orderBy($"slice_size")
  }

  val embedAutoGranularitySql: String = {
    val sizes = Seq(100L, 1999L, 2000L, 2001L, 2250L, 2251L,
      4000L, 4001L, 8000L, 8001L)
    val vals = sizes.map(k => s"($k)").mkString(",")
    val bitsCase = "CASE " + (4 until 12).map(b =>
      s"WHEN n <= ${125L << b} THEN $b ").mkString + "ELSE 12 END"
    s"""WITH m AS (SELECT min(event_id) AS mn FROM events),
       |s(sz) AS (VALUES $vals),
       |c AS (
       |  SELECT sz, (SELECT count(*) FROM events, m
       |              WHERE event_id - mn < sz) AS n
       |  FROM s)
       |SELECT CAST(sz AS BIGINT) AS slice_size, CAST(n AS BIGINT) AS n,
       |  CAST($bitsCase AS BIGINT) AS lsh_bits,
       |  CAST(least(65536, greatest(8, (n + 249) // 250)) AS BIGINT)
       |    AS cells
       |FROM c ORDER BY slice_size""".stripMargin
  }

  /** SQL twin of [[Similarity.autoLshBits]](n, 125, 4, 12): the CASE
    * thresholds are 125·2^b — integer comparisons, no log2 float
    * hazard. */
  private val nbitsSql: String =
    "CASE " + (4 until 12).map(b =>
      s"WHEN count(*) <= ${125L << b} THEN $b ").mkString + "ELSE 12 END"

  /** Dynamic-width bucket id: 12 statically-embedded plane terms for
    * table `table` (stride 12 — Similarity.LshPlaneStride), each
    * switched on when its bit index is below the count-derived width
    * `nb.nbits`. */
  private def lshBucketSqlDyn(vec: String, table: Int): String =
    (0 until 12).map { b =>
      s"(CASE WHEN $b < nb.nbits AND " +
        s"${dpSql(vec, planeLit(table * 12 + b))} > 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  val embedNearDupLshSql: String = {
    val tb = (0 until 8).map { t =>
      s"SELECT vec_id, $t AS t, ${lshBucketSqlDyn("embedding", t)}" +
        s" AS bucket FROM embeddings CROSS JOIN nb"
    }.mkString("\nUNION ALL\n")
    s"""WITH nb AS (SELECT $nbitsSql AS nbits FROM embeddings),
       |tb AS ($tb),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM tb a JOIN tb b
       |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, sim FROM (
       |  SELECT id_a, id_b,
       |    ${dpSql("va.embedding", "vb.embedding")} /
       |      (sqrt(${dpSql("va.embedding", "va.embedding")}) *
       |       sqrt(${dpSql("vb.embedding", "vb.embedding")})) AS sim
       |  FROM cand
       |  JOIN embeddings va ON va.vec_id = cand.id_a
       |  JOIN embeddings vb ON vb.vec_id = cand.id_b)
       |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** Incremental ingest dedup (north star: snapshot-over-snapshot): the
    * second half of the corpus deduped against the already-ingested
    * first half, exact-digest path. */
  def dedupDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.dedupDelta(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val dedupDeltaSql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars, row_number() OVER (
      |    PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents d
      |  WHERE doc_id >= 250 AND NOT EXISTS (
      |    SELECT 1 FROM documents c
      |    WHERE c.doc_id < 250 AND md5(c.text) = md5(d.text)))
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Near-dup screen of the delta against the ingested corpus
    * (minhash-band collision + exact-Jaccard verify) — oracle-checked
    * via the same portable-kernel SQL replay as [[minhashPairs]],
    * banding each corpus side independently and joining across;
    * planted-dup recall additionally in DedupSpec. */
  def dedupDeltaNear(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.nearDupDeltaPairs(docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
        "doc_id", "text", numHashes = 32, bands = 4, threshold = 0.9)
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  val dedupDeltaNearSql: String =
    s"""WITH $seedsCte,
       |cdocs AS (SELECT doc_id AS id, list_distinct($toksSql) AS toks
       |          FROM documents WHERE doc_id < 250),
       |ddocs AS (SELECT doc_id AS id, list_distinct($toksSql) AS toks
       |          FROM documents WHERE doc_id >= 250 AND doc_id < 400),
       |bndc AS (${minhashBndSql("cdocs", 8)}),
       |bndd AS (${minhashBndSql("ddocs", 8)}),
       |cand AS (SELECT DISTINCT d.id AS id_d, c.id AS id_c
       |         FROM bndd d JOIN bndc c ON d.b = c.b AND d.k = c.k),
       |v AS (
       |${jacVerifySql("cand", "id_d", "id_c", "(SELECT * FROM cdocs UNION ALL SELECT * FROM ddocs)", 0.9)})
       |SELECT id_d AS delta_id, id_c AS corpus_id, jac FROM v
       |ORDER BY delta_id, corpus_id""".stripMargin

  /** DuckDB double-space dot product of two list expressions — the
    * sequential-fold form that matches graft.plans.DotProduct bit for
    * bit (same pattern as embedKnnSql). */
  private def dpSql(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), " +
      s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"

  /** L2-normalized unit vectors + norms (north star: embedding
    * preprocessing). Pure codegen map stage (plans/ArrayScale), zero
    * shuffle; oracle-checked because both engines fold the same
    * element-ordered double arithmetic. Output is posexploded to one
    * scalar row per (vec_id, pos) — the driver's comparator sorts with
    * pandas, which cannot hash list columns, so both sides emit the
    * element-wise shape (mirrors pylibcudf's element-wise column
    * round trips). */
  def embedNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        Similarity.l2norm(col("embedding")).as("norm"),
        posexplode(Embeddings.l2Normalize(col("embedding")))
          .as(Seq("pos", "u")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("norm"), col("u"))
      .orderBy(col("vec_id"), col("pos"))

  val embedNormalizeSql: String =
    s"""SELECT vec_id,
       |  unnest(range(0, len(embedding))) AS pos,
       |  sqrt(dnn) AS norm,
       |  unnest(CASE WHEN dnn = 0
       |    THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
       |    ELSE list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * (1.0 / sqrt(dnn)))
       |  END) AS u
       |FROM (SELECT vec_id, embedding,
       |        ${dpSql("embedding", "embedding")} AS dnn
       |      FROM embeddings)
       |ORDER BY vec_id, pos""".stripMargin

  /** lang × source contingency table with exact independence
    * diagnostics ([[graft.operators.Stats.contingency]]): e_num = r·c
    * and resid_num = n·o − r·c are integers, so the dependence audit
    * is engine-exact with no division anywhere. */
  def contingencyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.contingency(Tables.documents(s, dir),
        "lang", "source")
      .select(col("lang"), col("source"), col("o"),
        col("r").as("n_row"), col("c").as("n_col"), col("n"),
        col("e_num").cast("long").as("e_num"),
        col("resid_num").cast("long").as("resid_num"))
      .orderBy(col("lang"), col("source"))

  val contingencySql: String =
    """WITH cells AS (SELECT lang AS a, source AS b,
      |                 CAST(count(*) AS BIGINT) AS o
      |               FROM documents
      |               WHERE lang IS NOT NULL AND source IS NOT NULL
      |               GROUP BY 1, 2),
      |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS n_row FROM cells GROUP BY a),
      |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS n_col FROM cells GROUP BY b),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      |SELECT cells.a AS lang, cells.b AS source, o, rt.n_row, ct.n_col, t.n,
      |  CAST(rt.n_row * ct.n_col AS BIGINT) AS e_num,
      |  CAST(t.n * o - rt.n_row * ct.n_col AS BIGINT) AS resid_num
      |FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN t
      |ORDER BY lang, source""".stripMargin

  /** Mann-Whitney U rank-sum test: did returned (R) lineitems ship in
    * different quantities than normal (N) ones? Count-based U (no
    * global rank sort — see [[graft.operators.Stats.mannWhitney]]),
    * doubled-U and tie-correction integers exact on both engines, z
    * derived from them with a fixed IEEE expression tree. */
  def rankTestQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.mannWhitney(Tables.lineitem(s, dir),
      "l_returnflag", "l_quantity", "R", "N")

  val rankTestSql: String =
    """WITH pv AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM lineitem
      |  WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
      |  GROUP BY 1),
      |w AS (
      |  SELECT *,
      |    CAST(coalesce(sum(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cb_below,
      |    CAST(coalesce(sum(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS ca_below
      |  FROM pv),
      |a AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
      |    CAST(sum(ca * (cb_below * 2 + cb)) AS BIGINT) AS u2_a,
      |    CAST(sum(cb * (ca_below * 2 + ca)) AS BIGINT) AS u2_b,
      |    CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
      |      AS BIGINT) AS tie_cubes
      |  FROM w)
      |SELECT n_a, n_b, u2_a, u2_b, tie_cubes,
      |  CAST(u2_a - n_a * n_b AS DOUBLE) /
      |    (sqrt(CAST(n_a * n_b AS DOUBLE) *
      |      (CAST(n_a + n_b + 1 AS DOUBLE) -
      |       CAST(tie_cubes AS DOUBLE) /
      |         CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)) / 12.0) * 2.0)
      |    AS z
      |FROM a""".stripMargin

  /** Per-label mean embedding (class prototypes), one row per
    * (label, dim); dyadic fixed-point sums make the mean independent
    * of partitioning and engine ([[Embeddings.centroidsByGroup]]). */
  def embedCentroids(s: SparkSession, dir: String): DataFrame =
    Embeddings.centroidsByGroup(Tables.embeddings(s, dir), "label",
        "embedding")
      .select(col("label").cast("long").as("label"), col("dim"),
        col("n_vecs"), col("centroid"))
      .orderBy(col("label"), col("dim"))

  val embedCentroidsSql: String =
    """SELECT CAST(label AS BIGINT) AS label, dim,
      |  CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 35184372088832.0)
      |    AS BIGINT)) AS VARCHAR) AS DOUBLE)
      |    / 35184372088832.0 / CAST(count(*) AS DOUBLE) AS centroid
      |FROM (SELECT label,
      |        CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |        unnest(embedding) AS v
      |      FROM embeddings WHERE embedding IS NOT NULL)
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Per-vector uint8 scalar quantization (north star: 4× embedding
    * storage shrink). Codegen kernel (plans/ArrayQuantizeU8), zero
    * shuffle; floor/clamp arithmetic is IEEE-exact so the codes are
    * oracle-checkable. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    Embeddings.quantizeU8(Tables.embeddings(s, dir), "embedding",
        scaleCol = "qscale")
      .select(col("vec_id"), col("lo"), col("qscale"),
        posexplode(col("q")).as(Seq("pos", "qv")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("lo"), col("qscale"), col("qv"))
      .orderBy(col("vec_id"), col("pos"))

  val embedQuantizeSql: String =
    """SELECT vec_id,
      |  unnest(range(0, len(embedding))) AS pos,
      |  lo, qscale,
      |  unnest(CASE WHEN qscale = 0 THEN list_transform(embedding, x -> 0)
      |    ELSE list_transform(embedding, x -> CAST(least(greatest(
      |      floor((CAST(x AS DOUBLE) - lo) / qscale), 0), 255) AS INT))
      |  END) AS qv
      |FROM (SELECT vec_id, embedding,
      |        CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS lo,
      |        (CAST(list_aggregate(embedding, 'max') AS DOUBLE) -
      |         CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255.0
      |          AS qscale
      |      FROM embeddings)
      |ORDER BY vec_id, pos""".stripMargin

  /** Sign-matrix random projection 64 → 16 dims (Johnson–Lindenstrauss
    * dimensionality reduction before clustering/ANN). The md5-derived
    * sign matrix is a plan literal on the Spark side and the IDENTICAL
    * literal list in the oracle SQL — the projection is engine-portable
    * by construction. */
  def embedProject(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(Embeddings.randomProject(col("embedding"), inDim = 64,
          outDim = 16, seed = "graft")).as(Seq("pos", "pv")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("pv"))
      .orderBy(col("vec_id"), col("pos"))

  val embedProjectSql: String = {
    val dims = Embeddings.signMatrix(inDim = 64, outDim = 16, seed = "graft")
      .map { row =>
        val signs = row.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"${dpSql("embedding", signs)} * 0.25"
      }
    // NULL-embedding guard: posexplode of a null projection emits no
    // Spark rows, so the oracle's unnest lists must also be empty for
    // null embeddings (a bare range(0, 16) would fabricate 16 rows)
    s"""SELECT vec_id,
       |  unnest(CASE WHEN embedding IS NULL THEN CAST([] AS BIGINT[])
       |         ELSE range(0, ${dims.size}) END) AS pos,
       |  unnest(CASE WHEN embedding IS NULL THEN CAST([] AS DOUBLE[])
       |         ELSE [${dims.mkString(",\n   ")}] END) AS pv
       |FROM embeddings ORDER BY vec_id, pos""".stripMargin
  }

  /** SemDeDup-style semantic near-dup pairs: k-means cells as candidate
    * blocks + exact-cosine verify; recall vs the exact all-pairs oracle
    * covered in OperatorsSpec. Same 0.4 threshold rationale as
    * embed_neardup. Oracle-checked end to end: seeds are portable-hash
    * selected, the Lloyd update accumulates in exact fixed-point
    * (VectorMeanFixedAgg — order-independent, so the trained model is
    * bit-identical across engines), and the oracle unrolls both
    * iterations in SQL with the same integer arithmetic.
    *
    * Cell count is corpus-adaptive (nCells = 0 →
    * [[Similarity.autoCells]], ~250 vectors/cell): the round-11 25×
    * envelope measured FIXED K=8 at a 197× time ratio for 25× data
    * (within-cell pairs ∝ n²/K); the oracle recomputes the same K from
    * count(*) so the trained model still matches bit-for-bit. */
  def embedSemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.4, nCells = 0, iters = 2)
      .orderBy(col("id_a"), col("id_b"))

  /** One Lloyd centroid update in the oracle's exact fixed-point form:
    * members quantize to floor(x·2^40) (a power-of-two scale is exact
    * in IEEE doubles), sums are integer-exact (DuckDB widens to
    * HUGEINT), and the mean replays VectorMeanFixedAgg's
    * (sum→double)/2^40/count — the HUGEINT→VARCHAR→DOUBLE round trip is
    * correctly rounded like Java's Long→Double. Cells that lost every
    * member keep their previous centroid (the operator's carry rule). */
  private def lloydUpdateSql(asgRel: String, vecsRel: String,
      prevRel: String): String =
    s"""SELECT p.cell_id, coalesce(u.c_vec, p.c_vec) AS c_vec
       |FROM ($prevRel) p LEFT JOIN (
       |  SELECT cell_id, list(cv ORDER BY pos) AS c_vec FROM (
       |    SELECT cell_id, pos,
       |      CAST(CAST(sum(fx) AS VARCHAR) AS DOUBLE)
       |        / 1099511627776.0 / count(*) AS cv
       |    FROM (
       |      SELECT a.cell_id,
       |        unnest(generate_series(1, len(v.n_vec))) AS pos,
       |        CAST(floor(unnest(v.n_vec) * 1099511627776.0) AS BIGINT)
       |          AS fx
       |      FROM ($asgRel) a JOIN ($vecsRel) v USING (n_id))
       |    GROUP BY cell_id, pos)
       |  GROUP BY cell_id) u ON u.cell_id = p.cell_id""".stripMargin

  /** The shared fixed-point k-means replay (`limitSql` seed cells, 2
    * Lloyd iterations over the embeddings table) as a CTE chain; `af`
    * is the final (n_id, n_vec, cell_id) assignment and `c2` the
    * trained centroids — both bit-identical to the engine's model.
    * The iteration CTEs are K-agnostic (per-row argmax over whatever
    * s0 holds), so a dynamic K only changes the seed LIMIT. */
  private def kmeansCte(limitSql: String): String = {
    // kmeansCentroids widens to double BEFORE seeding/assignment
    val vecs = "SELECT vec_id AS n_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_vec " +
      "FROM embeddings"
    // cell ids are 0-based positions in seed (hash, id) order
    val s0 = s"""SELECT row_number() OVER (ORDER BY u, n_id) - 1 AS cell_id,
       |  n_vec AS c_vec FROM (
       |  SELECT n_id, n_vec, ${ivfUSql("n_id")} AS u
       |  FROM ($vecs) ORDER BY u, n_id LIMIT $limitSql)""".stripMargin
    val a1 = assignCellsSql("SELECT * FROM vecs", "SELECT * FROM s0", 1)
    val c1 = lloydUpdateSql("SELECT * FROM a1", "SELECT * FROM vecs",
      "SELECT * FROM s0")
    val a2 = assignCellsSql("SELECT * FROM vecs", "SELECT * FROM c1", 1)
    val c2 = lloydUpdateSql("SELECT * FROM a2", "SELECT * FROM vecs",
      "SELECT * FROM c1")
    val af = assignCellsSql("SELECT * FROM vecs", "SELECT * FROM c2", 1)
    s"""vecs AS ($vecs),
       |s0 AS ($s0),
       |a1 AS ($a1),
       |c1 AS ($c1),
       |a2 AS ($a2),
       |c2 AS ($c2),
       |af AS ($af)""".stripMargin
  }

  private val kmeans8Cte: String = kmeansCte("8")

  /** SQL twin of [[Similarity.autoCells]]: ~250 vectors per cell,
    * floor 8, cap 65536 — integer arithmetic only. */
  private val kmeansAutoCte: String = kmeansCte(
    "(SELECT least(65536, greatest(8, (count(*) + 249) // 250)) " +
      "FROM embeddings)")

  val embedSemDedupSql: String =
    s"""WITH $kmeansAutoCte
       |SELECT id_a, id_b, sim FROM (
       |  SELECT x.n_id AS id_a, y.n_id AS id_b,
       |    ${cosSql("ex.embedding", "ey.embedding")} AS sim
       |  FROM af x JOIN af y
       |    ON x.cell_id = y.cell_id AND x.n_id < y.n_id
       |  JOIN embeddings ex ON ex.vec_id = x.n_id
       |  JOIN embeddings ey ON ey.vec_id = y.n_id)
       |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin

  /** Hierarchical two-level cell assignment at FULL probe width —
    * promotes the O(n·√K) scale path ([[Similarity
    * .assignCellsHierarchical]], the SemDeDup O(n·K) assignment
    * remedy) from spec-only to oracle-green: with superProbes ≥ S the
    * descent probes every populated super-cell, so the argmax is
    * bit-identical to the flat assignment the oracle replays (same
    * smallest-id tie rule, same NaN-greatest ordering, zero-norm
    * centroids lose every argmax). K = 8 ⇒ S = ⌈√8⌉ = 3;
    * superProbes = 8 ≥ S covers the width even if the driver-side
    * Lloyd strands empty super-cells. The oracle is the SAME
    * fixed-point k-means replay the flat gates use — if the
    * hierarchical descent diverged from flat anywhere on this corpus,
    * the row hash would fail. */
  def embedHierAssign(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.kmeansCentroids(emb, nCells = 8, iters = 2)
    Similarity.assignCellsHierarchical(
        emb.select(col("vec_id"), col("embedding")),
        "embedding", cents, superProbes = 8)
      .select(col("vec_id"), col("cell_id"))
      .orderBy(col("vec_id"))
  }

  val embedHierAssignSql: String =
    s"""WITH $kmeans8Cte
       |SELECT n_id AS vec_id, cell_id FROM af ORDER BY vec_id""".stripMargin

  /** Planted-duplicate recall through the hierarchical assignment's
    * LOSSY production regime (superProbes = 2 at K = 4096 — the exact
    * parameters [[Similarity.semanticDedupPairs]] auto-switches to at
    * ~1M vectors; embed_hier_assign proves the full-probe-width ≡ flat
    * identity, THIS gate measures the approximate regime's duplicate
    * recall instead of arguing it). Corpus: the 500 base vectors
    * (dim-16 slice) are inflated 16× with per-copy perturbations —
    * n = 8,000 ≥ K so the k-means seeds fill all 4,096 cells — and 20
    * exact duplicates are planted under negative ids
    * (-(16·vec_id) - 1, collision-free at any stress multiple).
    * Identical vectors score identically at EVERY descent level, so
    * all 20 planted pairs must survive any probe width — the gate
    * output is exactly that pair list, and the oracle is its closed
    * form. A dead or impure production path (assignment not a pure
    * function of the vector, pair stage dropping rows) loses planted
    * pairs → red. Near-dup (non-identical) recall vs the flat path is
    * measured in EmbeddingsSpec on the same construction. */
  def embedHierRecall(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 10000000L < 500 && col("embedding").isNotNull)
      .select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb"))
    // 16 deterministically perturbed copies per base vector (copy 0 is
    // the original); perturbation magnitude keeps same-base copies
    // near-dup (harmless extra pairs, filtered below) and cross-base
    // sims unaffected
    val inflated = base
      .select(col("vec_id"), col("emb"),
        explode(sequence(lit(0), lit(15))).as("c"))
      .select((col("vec_id") * 16 + col("c")).as("id"),
        expr("""transform(emb, (x, j) ->
                x + CAST(c AS FLOAT) * CAST(0.01 AS FLOAT) *
                    CAST((j * 7 + c) % 5 - 2 AS FLOAT))""").as("emb"))
    val planted = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") * -16 - 1).as("id"), col("emb"))
    val corpus = inflated.union(planted)
    Similarity.semanticDedupPairs(corpus, "id", "emb",
        threshold = 0.995, nCells = 4096, superProbes = 2)
      .filter(col("id_a") < 0 && col("id_b") === -col("id_a") - 1)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"))
  }

  val embedHierRecallSql: String =
    """SELECT vec_id * -16 - 1 AS id_a, vec_id * 16 AS id_b
      |FROM embeddings
      |WHERE vec_id % 10000000 < 500 AND vec_id % 25 = 0
      |  AND embedding IS NOT NULL
      |ORDER BY id_a""".stripMargin

  /** Diverse coreset: one exemplar per k-means cell (SemDeDup's dual —
    * Similarity.semanticExemplars). Oracle replays the identical
    * fixed-point model; sim doubles and the (sim desc, id) exemplar
    * rank match bit-for-bit. */
  def embedExemplars(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticExemplars(Tables.embeddings(s, dir), "vec_id",
        "embedding", nCells = 8, iters = 2)
      .orderBy(col("cell_id"))

  val embedExemplarsSql: String =
    s"""WITH $kmeans8Cte
       |SELECT cell_id, exemplar_id, sim, n_members FROM (
       |  SELECT a.cell_id, a.n_id AS exemplar_id,
       |    ${cosSql("a.n_vec", "c.c_vec")} AS sim,
       |    CAST(count(*) OVER (PARTITION BY a.cell_id) AS BIGINT)
       |      AS n_members,
       |    row_number() OVER (PARTITION BY a.cell_id
       |      ORDER BY ${cosSql("a.n_vec", "c.c_vec")} DESC, a.n_id) AS rn
       |  FROM af a JOIN c2 c USING (cell_id)
       |  WHERE NOT isnan(${cosSql("a.n_vec", "c.c_vec")}))
       |WHERE rn = 1 ORDER BY cell_id""".stripMargin

  /** BPE-style regex pretokenization (byte_pair_encoding.hpp pre-split;
    * north star "BPE-ish regex" token counting). */
  def bpeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bpe", bpeRegexTokens(col("text")))
      .select(col("doc_id"), size(col("bpe")).as("n_bpe"),
        array_join(slice(col("bpe"), 1, 5), " ").as("head5"))
      .orderBy(col("doc_id"))

  val bpeTokensSql: String =
    raw"""SELECT doc_id, len(bpe) AS n_bpe,
         |  array_to_string(bpe[1:5], ' ') AS head5
         |FROM (SELECT doc_id,
         |        regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS bpe
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin

  /** WordPiece subword tokenization via the custom broadcast-vocab
    * expression (also gated as doc_wordpiece_bc). Oracle-checked:
    * greedy longest-match-first is replicated in DuckDB with a
    * recursive CTE — each state (word, pos)
    * advances by the longest vocab entry matching at pos (NOT EXISTS a
    * longer match), continuation entries require pos > 0; a word whose
    * recursion never reaches len(word) collapses to a single [UNK].
    * Tokenization depends only on the word, so the oracle tokenizes
    * DISTINCT words and re-weights by occurrence count. */
  private val wordpieceVocab = Seq(
    "th", "##e", "jo", "##in", "fil", "##ter", "sc", "##an", "mer", "##ge",
    "so", "##rt", "da", "##ta", "gro", "##up", "quer", "##y", "ro", "##w",
    "fa", "##st", "slo", "##w", "ke", "##y", "or", "##der", "ha", "##sh",
    "a", "the", "and", "of")

  def wordpiece(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(
        graft.plans.WordPieceTokenize(col("text"), wordpieceVocab)).as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(25)

  val wordpieceSql: String = {
    // distinct: the vocab seq repeats ##w/##y; Scala matches against a
    // Set, so the SQL side must dedupe or the match join double-counts
    val vocabValues = wordpieceVocab.distinct.map(v => s"('$v')").mkString(",")
    raw"""WITH RECURSIVE
         |words AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
         |    FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |vn AS (
         |  SELECT v, CASE WHEN v LIKE '##%' THEN v[3:] ELSE v END AS stem,
         |         (v LIKE '##%') AS cont
         |  FROM (VALUES $vocabValues) vv(v)),
         |step(w, pos, piece) AS (
         |  SELECT w, 0, CAST(NULL AS VARCHAR) FROM words
         |  UNION ALL
         |  SELECT s.w, s.pos + len(m.stem), m.v
         |  FROM step s JOIN vn m
         |    ON m.cont = (s.pos > 0)
         |   AND substr(s.w, s.pos + 1, len(m.stem)) = m.stem
         |   AND NOT EXISTS (SELECT 1 FROM vn m2 WHERE m2.cont = (s.pos > 0)
         |        AND len(m2.stem) > len(m.stem)
         |        AND substr(s.w, s.pos + 1, len(m2.stem)) = m2.stem)
         |  WHERE s.pos < len(s.w)),
         |done AS (SELECT DISTINCT w FROM step WHERE pos = len(w)),
         |pieces AS (
         |  SELECT s.w, s.piece FROM step s JOIN done d ON s.w = d.w
         |  WHERE s.piece IS NOT NULL
         |  UNION ALL
         |  SELECT w.w, '[UNK]' FROM words w WHERE w.w NOT IN (SELECT w FROM done)),
         |agg AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM pieces JOIN words USING (w) GROUP BY piece)
         |SELECT piece, n FROM agg ORDER BY n DESC, piece LIMIT 25""".stripMargin
  }

  /** Fused BERT-style model-input prep (TextPipeline.bertEncode:
    * normalize → WordPiece → ids → [CLS]/[SEP] wrap → pad + attention
    * mask). Oracle-checked: the corpus is punctuation-free printable
    * ASCII (verified at sf0.01 and sf0.1), so CharacterNormalize is
    * identity on it and the DuckDB side replicates tokenize → ids →
    * wrap → pad with the same recursive-CTE longest-match tokenizer as
    * doc_wordpiece; the normalizer's full semantics (punct padding,
    * accents, CJK) stay fixture-locked in OperatorsMiscSpec. Arrays
    * rendered as joined strings for the driver's pandas-based
    * comparator. */
  private val bertVocab = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]",
    "th", "##e", "jo", "##in", "fil", "##ter", "sc", "##an", "mer", "##ge",
    "so", "##rt", "da", "##ta", "gro", "##up", "quer", "##y", "ro", "##w",
    "fa", "##st", "slo", "ke", "or", "##der", "ha", "##sh",
    "a", "the", "and", "of")

  def bertEncodeQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextPipeline.bertEncode(
        Tables.documents(s, dir), "doc_id", "text", bertVocab, maxLen = 48)
      .select(col("doc_id"),
        array_join(col("input_ids").cast("array<string>"), " ")
          .as("input_ids"),
        array_join(col("attention_mask").cast("array<string>"), " ")
          .as("attention_mask"))
      .orderBy(col("doc_id"))

  /** maxLen = 48 → body slice 46; special ids by vocab position:
    * [PAD]=0 [UNK]=1 [CLS]=2 [SEP]=3 (same indexOf convention as
    * bertEncode). Bracketed uppercase specials can never match the
    * lowercase word stream, so the full vocab participates in the
    * match join unguarded. */
  val bertEncodeSql: String = {
    val vocabValues =
      bertVocab.zipWithIndex.map { case (v, i) => s"('$v',$i)" }.mkString(",")
    raw"""WITH RECURSIVE
         |docw AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\s+'),
         |                x -> x <> '') AS ws
         |  FROM documents),
         |words AS (SELECT DISTINCT unnest(ws) AS w FROM docw),
         |vn AS (
         |  SELECT v, vid, CASE WHEN v LIKE '##%' THEN v[3:] ELSE v END AS stem,
         |         (v LIKE '##%') AS cont
         |  FROM (VALUES $vocabValues) vv(v, vid)),
         |step(w, pos, piece) AS (
         |  SELECT w, 0, CAST(NULL AS VARCHAR) FROM words
         |  UNION ALL
         |  SELECT s.w, s.pos + len(m.stem), m.v
         |  FROM step s JOIN vn m
         |    ON m.cont = (s.pos > 0)
         |   AND substr(s.w, s.pos + 1, len(m.stem)) = m.stem
         |   AND NOT EXISTS (SELECT 1 FROM vn m2 WHERE m2.cont = (s.pos > 0)
         |        AND len(m2.stem) > len(m.stem)
         |        AND substr(s.w, s.pos + 1, len(m2.stem)) = m2.stem)
         |  WHERE s.pos < len(s.w)),
         |done AS (SELECT DISTINCT w FROM step WHERE pos = len(w)),
         |wp AS (
         |  SELECT s.w, s.pos AS ord, n.vid AS id
         |  FROM step s JOIN done d ON s.w = d.w JOIN vn n ON n.v = s.piece
         |  WHERE s.piece IS NOT NULL
         |  UNION ALL
         |  SELECT w.w, 1, 1 FROM words w WHERE w.w NOT IN (SELECT w FROM done)),
         |winst AS (
         |  SELECT doc_id, unnest(ws) AS w,
         |         unnest(generate_series(1, len(ws))) AS widx
         |  FROM docw),
         |body AS (
         |  SELECT i.doc_id, list(wp.id ORDER BY i.widx, wp.ord) AS ids
         |  FROM winst i JOIN wp ON wp.w = i.w
         |  GROUP BY i.doc_id),
         |fin AS (
         |  SELECT d.doc_id,
         |    list_prepend(2, list_append(coalesce(b.ids[1:46], []), 3)) AS core
         |  FROM docw d LEFT JOIN body b USING (doc_id))
         |SELECT doc_id,
         |  array_to_string(list_concat(core,
         |    list_transform(generate_series(1, 48 - len(core)), x -> 0)),
         |    ' ') AS input_ids,
         |  array_to_string(list_concat(
         |    list_transform(generate_series(1, len(core)), x -> 1),
         |    list_transform(generate_series(1, 48 - len(core)), x -> 0)),
         |    ' ') AS attention_mask
         |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary tokenization (nvtext/tokenize.hpp:228 tokenize_with_
    * vocabulary): corpus-derived vocabulary (distinct tokens of length
    * ≥ 3, ids by sorted order), collected while the query is built
    * and resolved per document through VocabIds; shorter
    * tokens fall to default_id = -1. NULL text has no tokens, and the
    * oracle emits no row for such a document. */
  def tokenIds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = graft.operators.VocabTokenize
      .buildVocabulary(docs, "text", minTokenLength = 3)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), graft.operators.VocabTokenize
        .tokenizeWithVocabulary(col("text"), vocab).as("ids"))
      // ids rendered as a space-joined string: the driver's comparator
      // sorts result columns with pandas, which cannot hash raw arrays
      .select(col("doc_id"),
        array_join(col("ids").cast("array<string>"), " ").as("ids"),
        size(filter(col("ids"), x => x === -1)).as("n_unk"),
        size(col("ids")).as("n_ids"))
      .orderBy(col("doc_id"))
  }

  val tokenIdsSql: String =
    s"""WITH docs AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS tok,
       |               generate_subscripts(toks, 1) AS pos FROM docs),
       |vocab AS (SELECT tok,
       |    CAST(row_number() OVER (ORDER BY tok) - 1 AS INT) AS id
       |  FROM (SELECT DISTINCT tok FROM tok WHERE length(tok) >= 3)),
       |mapped AS (
       |  SELECT doc_id, list(CAST(coalesce(v.id, -1) AS INT) ORDER BY t.pos) AS ids
       |  FROM tok t LEFT JOIN vocab v USING (tok) GROUP BY doc_id)
       |SELECT doc_id, array_to_string(ids, ' ') AS ids,
       |  len(list_filter(ids, x -> x = -1)) AS n_unk,
       |  len(ids) AS n_ids
       |FROM mapped ORDER BY doc_id""".stripMargin

  /** Detokenize (nvtext/tokenize.hpp:216): inverse of tokenization —
    * position-exploded tokens re-assembled per doc in input order.
    * Round-trip property: detokenize(tokenize(x)) = ws-normalized x. */
  def detok(s: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    graft.operators.VocabTokenize
      .detokenize(exploded, "tok", "doc_id", "pos", " ")
      .orderBy(col("doc_id"))
  }

  val detokSql: String =
    s"""SELECT doc_id, array_to_string($toksSql, ' ') AS text
       |FROM documents ORDER BY doc_id""".stripMargin

  /** True BPE (merge-table loop, byte_pair_encoding.hpp) over the corpus
    * with a fixed merge table. Oracle-checked against a FIXED
    * word→pieces table: the corpus vocabulary is exactly 31 words
    * (stable across sf dirs), and each word's piece sequence is
    * hand-simulated from the classic algorithm (lowest-rank adjacent
    * pair merges first — e.g. `join` → [jo, in] because rank-3 (i,n)
    * fires before rank-8 (j,o); `data`/`scan`/`the` chain to single
    * pieces). The table is derived from the published algorithm, not
    * from the operator, so the check is independent; algorithm
    * exactness on adversarial inputs additionally in ExpressionsSpec. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    val merges = Seq(
      "t" -> "h", "th" -> "e", "e" -> "r", "i" -> "n", "in" -> "g",
      "s" -> "c", "sc" -> "a", "sca" -> "n", "j" -> "o", "jo" -> "i",
      "joi" -> "n", "d" -> "a", "da" -> "t", "dat" -> "a")
    Tables.documents(s, dir)
      .select(explode(graft.plans.BpeEncode(col("text"), merges)).as("piece"))
      .groupBy(col("piece")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(25)
  }

  /** See [[bpeMerges]] — hand-simulated piece sequences per vocabulary
    * word; the inner join fails loudly if the corpus grows new words. */
  val bpeMergesSql: String =
    """WITH enc(tok, pieces) AS (VALUES
      |  ('a', ['a']), ('agg', ['a','g','g']),
      |  ('batch', ['b','a','t','c','h']), ('big', ['b','i','g']),
      |  ('column', ['c','o','l','u','m','n']),
      |  ('customer', ['c','u','s','t','o','m','er']),
      |  ('data', ['data']), ('dup', ['d','u','p']),
      |  ('fast', ['f','a','s','t']), ('filter', ['f','i','l','t','er']),
      |  ('group', ['g','r','o','u','p']), ('hash', ['h','a','s','h']),
      |  ('join', ['jo','in']), ('key', ['k','e','y']),
      |  ('line', ['l','in','e']), ('merge', ['m','er','g','e']),
      |  ('order', ['o','r','d','er']), ('part', ['p','a','r','t']),
      |  ('query', ['q','u','er','y']), ('row', ['r','o','w']),
      |  ('scan', ['scan']), ('slow', ['s','l','o','w']),
      |  ('small', ['s','m','a','l','l']), ('sort', ['s','o','r','t']),
      |  ('spark', ['s','p','a','r','k']),
      |  ('stream', ['s','t','r','e','a','m']),
      |  ('table', ['t','a','b','l','e']), ('the', ['the']),
      |  ('value', ['v','a','l','u','e']),
      |  ('vector', ['v','e','c','t','o','r']),
      |  ('window', ['w','in','d','o','w'])),
      |tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |       AS tok FROM documents),
      |pc AS (SELECT unnest(e.pieces) AS piece
      |       FROM tk JOIN enc e ON e.tok = tk.tok)
      |SELECT piece, n FROM (
      |  SELECT piece, count(*) AS n FROM pc GROUP BY piece)
      |ORDER BY n DESC, piece LIMIT 25""".stripMargin

  /** BPE merge-rule learning over the corpus vocabulary (tokenizer
    * training; [[bpeMerges]] is the apply side of the same contract).
    * Unweighted distinct-vocab mode so the result depends only on the
    * token SET — identical at every SF and stress multiple. Oracle:
    * the merge table derived INDEPENDENTLY by running the published
    * Sennrich 2016 algorithm (most-frequent adjacent pair, ties by
    * count desc then pair lexicographic asc, greedy non-overlapping
    * re-segmentation) by hand/reference script over the 31-token
    * vocabulary — e.g. round 1 is (e,r)×5 from filter/merge/order/
    * query/customer; round 9 merges (m,er) only after (e,r) created
    * 'er'. Vocabulary drift fails the gate loudly — the Spark side
    * recomputes from the corpus while the oracle pins the table. */
  def bpeLearn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = graft.operators.BpeLearn
      .learnFromVocabulary(Tables.documents(s, dir), "text", numMerges = 10)
    merges.zipWithIndex
      .map { case ((a, b, c), i) => (i + 1, a, b, c) }
      .toDF("rank", "a", "b", "cnt")
      .orderBy($"rank")
  }

  val bpeLearnSql: String =
    """WITH vals(rank, a, b, cnt) AS (VALUES
      |  (1, 'e', 'r', 5), (2, 'i', 'n', 3), (3, 'o', 'r', 3),
      |  (4, 'o', 'w', 3), (5, 's', 't', 3), (6, 'a', 'l', 2),
      |  (7, 'a', 'r', 2), (8, 'a', 't', 2), (9, 'm', 'er', 2),
      |  (10, 'p', 'ar', 2))
      |SELECT CAST(rank AS INT) AS rank, a, b, CAST(cnt AS BIGINT) AS cnt
      |FROM vals ORDER BY rank""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("doc_bpe_merges", bpeMerges, bpeMergesSql),
    Gate("doc_bpe_learn", bpeLearn, bpeLearnSql),
    Gate("doc_bpe_tokens", bpeTokens, bpeTokensSql),
    Gate("doc_token_ids", tokenIds, tokenIdsSql),
    Gate("doc_detok", detok, detokSql),
    Gate("doc_tfidf", tfidfQ, tfidfSql),
    Gate("doc_bm25", bm25Q, bm25Sql),
    Gate("doc_strip_html", stripHtmlQ, stripHtmlSql),
    Gate("doc_ngram_diversity", ngramDiversityQ, ngramDiversitySql),
    Gate("doc_sentences", sentencesQ, sentencesSql),
    Gate("doc_langid_margin", langidMarginQ, langidMarginSql),
    Gate("doc_oov", oovQ, oovSql),
    Gate("corpus_diff", corpusDiffQ, corpusDiffSql),
    Gate("corpus_leakage_report", leakageReportQ, leakageReportSql),
    Gate("corpus_decontaminate", decontaminateQ, decontaminateSql),
    Gate("doc_chunks", chunksQ, chunksSql),
    Gate("doc_chunk_dedup", chunkDedup, chunkDedupSql),
    Gate("doc_wordpiece", wordpiece, wordpieceSql),
    // the same single broadcast-vocab path as doc_wordpiece
    Gate("doc_wordpiece_bc", wordpiece, wordpieceSql),
    Gate("doc_bert_encode", bertEncodeQ, bertEncodeSql),
    Gate("doc_dedup_exact", dedupExact, dedupExactSql),
    Gate("doc_dedup_fingerprint", dedupFingerprint, dedupFingerprintSql),
    Gate("doc_dedup_normalized", dedupNormalized, dedupNormalizedSql),
    Gate("doc_df_prune", dfPrune, dfPruneSql),
    Gate("doc_seg_dedup", segDedupFirst, segDedupFirstSql),
    Gate("doc_spell_correct", spellCorrect, spellCorrectSql),
    Gate("doc_normalize", normalize, normalizeSql),
    Gate("doc_token_replace", tokenReplace, tokenReplaceSql),
    Gate("doc_token_stats", tokenStats, tokenStatsSql),
    Gate("doc_quality", quality, qualitySql),
    Gate("doc_quality_buckets", qualityBuckets, qualityBucketsSql),
    Gate("doc_char_entropy", charEntropyQ, charEntropySql),
    Gate("doc_winnow", docWinnow, docWinnowSql),
    Gate("doc_winnow_pairs", docWinnowPairs, docWinnowPairsSql),
    Gate("doc_soundex", docSoundex, docSoundexSql),
    Gate("doc_metaphone", docMetaphone, docMetaphoneSql),
    Gate("doc_double_metaphone", docDoubleMetaphone, docDoubleMetaphoneSql),
    Gate("doc_phonetic_extra", docPhoneticExtra, docPhoneticExtraSql),
    Gate("doc_scripts", docScripts, docScriptsSql),
    Gate("doc_langid", langid, langidSql),
    Gate("doc_jaccard_pairs", jaccardPairs, jaccardPairsSql),
    Gate("doc_containment_pairs", containmentPairs, containmentPairsSql),
    Gate("doc_minhash_pairs", minhashPairs, minhashPairsSql),
    Gate("doc_minhash_ngram_pairs", minhashNgramPairs, minhashNgramPairsSql),
    Gate("doc_simhash_pairs", simhashPairs, simhashPairsSql),
    Gate("doc_substring_dups", substringDups, substringDupsSql),
    Gate("doc_duplicated_spans", duplicatedSpans, duplicatedSpansSql),
    Gate("doc_contaminated_spans", contaminatedSpans, contaminatedSpansSql),
    Gate("doc_hotclique_dups", hotCliqueDups, hotCliqueDupsSql),
    Gate("doc_hotclique_contamination", hotCliqueContamination, hotCliqueContaminationSql),
    Gate("doc_contamination", contamination, contaminationSql),
    Gate("doc_curation", curation, curationSql),
    Gate("doc_redact_pii", redactPii, redactPiiSql),
    Gate("doc_pack_bins", packBins, packBinsSql),
    Gate("doc_multimodal", multimodal, multimodalSql),
    Gate("doc_media_decode", mediaDecode, mediaDecodeSql),
    Gate("doc_media_resize", mediaResize, mediaResizeSql),
    Gate("doc_multimodal_embed", multimodalEmbed, multimodalEmbedSql),
    Gate("embed_knn", embedKnn, embedKnnSql),
    Gate("embed_hard_negatives", embedHardNegatives, embedHardNegativesSql),
    Gate("embed_knn_lsh", embedKnnLsh, embedKnnLshSql),
    Gate("embed_knn_ivf", embedKnnIvf, embedKnnIvfSql),
    Gate("embed_ann_recall", embedAnnRecall, embedAnnRecallSql),
    Gate("embed_neardup", embedNearDup, embedNearDupSql),
    Gate("embed_neardup_lsh", embedNearDupLsh, embedNearDupLshSql),
    Gate("embed_auto_granularity", embedAutoGranularity, embedAutoGranularitySql),
    Gate("embed_normalize", embedNormalize, embedNormalizeSql),
    Gate("embed_centroids", embedCentroids, embedCentroidsSql),
    Gate("stats_contingency", contingencyQ, contingencySql),
    Gate("stats_rank_test", rankTestQ, rankTestSql),
    Gate("embed_quantize", embedQuantize, embedQuantizeSql),
    Gate("embed_project", embedProject, embedProjectSql),
    Gate("embed_semdedup", embedSemDedup, embedSemDedupSql),
    Gate("embed_hier_assign", embedHierAssign, embedHierAssignSql),
    Gate("embed_hier_recall", embedHierRecall, embedHierRecallSql),
    Gate("embed_exemplars", embedExemplars, embedExemplarsSql),
    Gate("doc_dedup_delta", dedupDelta, dedupDeltaSql),
    Gate("doc_dedup_delta_near", dedupDeltaNear, dedupDeltaNearSql))
}
