package graft.queries

import graft.Tables
import graft.operators.{Curation, TextPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-assembly stages (graft.operators.Curation +
  * TextPipeline.repetitionStats): deterministic split / per-group quota
  * sampling / weighted mixture / quality-ranked survivors / repetition
  * metrics / global shuffle. All decisions derive from the portable
  * md5-based [[Curation.hashUnit]], so every query here is fully
  * DuckDB-oracle-checkable — including the "random" ones.
  */
object CurationPack extends QueryPack {

  /** Oracle SQL for Curation.hashUnit(key, seed): same md5 → first 15
    * hex chars → 60-bit int → /2^60 pipeline, so both engines compute
    * bit-identical doubles. */
  private def uSql(keyExpr: String, seed: String): String =
    s"(('0x' || substring(md5('$seed|' || CAST($keyExpr AS VARCHAR)), 1, 15))" +
      "::BIGINT::DOUBLE / 1152921504606846976.0)"

  private val toksSql = raw"string_split_regex(lower(trim(text)), '\s+')"

  // -- deterministic train/val/test split ----------------------------------

  def split(s: SparkSession, dir: String): DataFrame =
    Curation.assignSplit(Tables.documents(s, dir), "doc_id", "graft",
        Seq("train" -> 0.8, "val" -> 0.9, "test" -> 1.0))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  val splitSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN u < 0.8 THEN 'train'
       |       WHEN u < 0.9 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, ${uSql("doc_id", "graft")} AS u FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Leakage-free split: exact-duplicate documents (same md5(text))
    * always land in the same split — the oracle replays rep = min id
    * per digest and the same portable hashUnit on the REP. The corpus
    * has planted duplicates, so this genuinely diverges from the
    * row-level corpus_split wherever a dup group spans a cut. */
  def splitLeakFree(s: SparkSession, dir: String): DataFrame =
    Curation.assignSplitLeakFree(Tables.documents(s, dir), "doc_id",
        "text", "graft", Seq("train" -> 0.8, "val" -> 0.9, "test" -> 1.0))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  val splitLeakFreeSql: String =
    s"""WITH g AS (SELECT doc_id, md5(text) AS dig FROM documents),
       |reps AS (SELECT dig, min(doc_id) AS rep FROM g GROUP BY dig)
       |SELECT g.doc_id,
       |  CASE WHEN u < 0.8 THEN 'train'
       |       WHEN u < 0.9 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT g.doc_id, ${uSql("r.rep", "graft")} AS u
       |      FROM g JOIN reps r ON g.dig = r.dig) g
       |ORDER BY doc_id""".stripMargin

  /** Bootstrap resampling ([[Curation.bootstrapSample]]): 8 independent
    * Poisson(0.5) with-replacement draws (per-(row,draw) multiplicity
    * inverted from the portable hash, so one resample can hold SEVERAL
    * copies of a document), then the per-draw resample size and total
    * chars — i.e. the BOOTSTRAP DISTRIBUTION of a corpus statistic,
    * computed in one zero-shuffle explode + one aggregate. The oracle
    * replays the identical Poisson-CDF threshold literals, so the 8-row
    * distribution (including multiplicities) matches bit-for-bit. */
  def bootstrapQ(s: SparkSession, dir: String): DataFrame =
    Curation.bootstrapSample(Tables.documents(s, dir), "doc_id",
        draws = 8, lambda = 0.5, seed = "graft")
      .groupBy(col("draw_idx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("bigint")).as("sum_chars"))
      .orderBy(col("draw_idx"))

  val bootstrapSql: String = {
    val u = uSql("CAST(draw_idx AS VARCHAR) || '#' || " +
      "CAST(doc_id AS VARCHAR)", "graft")
    val mult = Curation.poissonCdfs(0.5)
      .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT draw_idx, CAST(sum(mult) AS BIGINT) AS n_docs,
       |  CAST(sum(mult * n_chars) AS BIGINT) AS sum_chars
       |FROM (SELECT draw_idx, n_chars, $mult AS mult
       |      FROM (SELECT draw_idx, n_chars, $u AS u
       |            FROM (SELECT doc_id, n_chars,
       |                  unnest(range(0, 8)) AS draw_idx
       |                  FROM documents)))
       |GROUP BY draw_idx ORDER BY draw_idx""".stripMargin
  }

  // -- per-source quota sampling -------------------------------------------

  def sampleGroup(s: SparkSession, dir: String): DataFrame =
    Curation.sampleByGroup(Tables.documents(s, dir), "source", "doc_id",
        k = 5, seed = "graft")
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))

  val sampleGroupSql: String =
    s"""SELECT source, doc_id FROM (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${uSql("doc_id", "graft")}, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin

  // -- weighted corpus mixture ---------------------------------------------

  private val mixWeights =
    Seq("en" -> 0.9, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25)

  def mixture(s: SparkSession, dir: String): DataFrame =
    Curation.mixCorpora(Tables.documents(s, dir), "lang", "doc_id",
        mixWeights.toMap, seed = "mix")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val mixtureSql: String = {
    val cases = mixWeights
      .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${uSql("doc_id", "mix")} < CASE lang $cases ELSE 0.0 END
       |ORDER BY doc_id""".stripMargin
  }

  // -- quality-ranked dedup survivors --------------------------------------

  /** Keep the LONGEST copy per bag-of-words fingerprint group (vs
    * dedup_keep_first's first copy): the "best of cluster" selection. */
  def survivors(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir).select(
      col("doc_id"), col("n_chars"),
      md5(array_join(sort_array(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))), " ")).as("fp"))
    Curation.survivorsByScore(keyed, "fp", "doc_id", "n_chars")
      .select(col("doc_id"), col("fp"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val survivorsSql: String =
    s"""SELECT doc_id, fp, n_chars FROM (
       |  SELECT doc_id, fp, n_chars,
       |    row_number() OVER (PARTITION BY fp
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM (SELECT doc_id, n_chars,
       |    md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
       |  FROM documents))
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // -- Gopher-style repetition metrics -------------------------------------

  def repetition(s: SparkSession, dir: String): DataFrame =
    TextPipeline.repetitionStats(Tables.documents(s, dir), "doc_id", "text",
        n = 2)
      .orderBy(col("doc_id"))

  val repetitionSql: String =
    s"""SELECT d.doc_id,
       |  CAST(coalesce(g.total_ngrams, 0) AS BIGINT) AS total_ngrams,
       |  CAST(coalesce(g.distinct_ngrams, 0) AS BIGINT) AS distinct_ngrams,
       |  CAST(coalesce(g.top_cnt, 0) AS BIGINT) AS top_cnt,
       |  CASE WHEN coalesce(g.total_ngrams, 0) > 0
       |    THEN 1.0 - CAST(g.distinct_ngrams AS DOUBLE)
       |      / CAST(g.total_ngrams AS DOUBLE)
       |    ELSE 0.0 END AS dup_frac,
       |  CASE WHEN coalesce(g.total_ngrams, 0) > 0
       |    THEN CAST(g.top_cnt AS DOUBLE) / CAST(g.total_ngrams AS DOUBLE)
       |    ELSE 0.0 END AS top_frac
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total_ngrams,
       |    CAST(count(*) AS BIGINT) AS distinct_ngrams,
       |    CAST(max(cnt) AS BIGINT) AS top_cnt
       |  FROM (
       |    SELECT doc_id, gram, count(*) AS cnt FROM (
       |      SELECT doc_id, unnest(list_transform(
       |        generate_series(1, greatest(len(toks) - 1, 0)),
       |        i -> array_to_string(toks[i:i+1], chr(31)))) AS gram
       |      FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |    GROUP BY doc_id, gram)
       |  GROUP BY doc_id) g USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // -- robust outlier fence ------------------------------------------------

  /** Tukey IQR fence on document length (the standard curation length
    * filter): one exact-percentile aggregate broadcast into a map-stage
    * filter. */
  def outlierFilter(s: SparkSession, dir: String): DataFrame =
    Curation.filterOutliersIqr(Tables.documents(s, dir), "n_chars", k = 1.5)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  val outlierFilterSql: String =
    """SELECT doc_id, n_chars
      |FROM documents, (SELECT quantile_cont(n_chars, 0.25) AS q1,
      |                        quantile_cont(n_chars, 0.75) AS q3
      |                 FROM documents) b
      |WHERE CAST(n_chars AS DOUBLE) >= q1 - 1.5 * (q3 - q1)
      |  AND CAST(n_chars AS DOUBLE) <= q3 + 1.5 * (q3 - q1)
      |ORDER BY doc_id""".stripMargin

  /** Median absolute deviation of document length (robust scale for
    * modified-z outlier rules). */
  def madQ(s: SparkSession, dir: String): DataFrame =
    Curation.mad(Tables.documents(s, dir), "n_chars")

  val madSql: String =
    """SELECT first(m) AS median,
      |  quantile_cont(abs(CAST(n_chars AS DOUBLE) - m), 0.5) AS mad
      |FROM documents, (SELECT quantile_cont(n_chars, 0.5) AS m
      |                 FROM documents) b""".stripMargin

  /** Winsorize document length at the 5th/95th percentiles — the
    * row-preserving alternative to the IQR fence. */
  def winsorizeQ(s: SparkSession, dir: String): DataFrame =
    Curation.winsorize(Tables.documents(s, dir), "n_chars",
        lo = 0.05, hi = 0.95, outCol = "n_chars_w")
      .select(col("doc_id"), col("n_chars"), col("n_chars_w"))
      .orderBy(col("doc_id"))

  val winsorizeSql: String =
    """SELECT doc_id, n_chars,
      |  CASE WHEN n_chars IS NULL THEN NULL
      |    ELSE greatest(least(CAST(n_chars AS DOUBLE), hi), lo)
      |  END AS n_chars_w
      |FROM documents, (SELECT quantile_cont(n_chars, 0.05) AS lo,
      |                        quantile_cont(n_chars, 0.95) AS hi
      |                 FROM documents) b
      |ORDER BY doc_id""".stripMargin

  // -- end-to-end corpus build ----------------------------------------------

  /** The whole corpus build as ONE declarative plan: token-count floor
    * (map) → IQR length fence (1-row percentile aggregate broadcast
    * into a map filter) → normalized exact-dedup survivors (one digest
    * window shuffle) → split assignment + epoch shuffle key (maps) —
    * two wide operators end to end, every stage independently
    * oracle-proven elsewhere, here verified COMPOSED. */
  def corpusBuild(s: SparkSession, dir: String): DataFrame = {
    val floored = Tables.documents(s, dir)
      .withColumn("n_words",
        size(graft.functions.TextFunctions.tokens(col("text"))))
      .filter(col("n_words") >= 5)
    val fenced = Curation.filterOutliersIqr(floored, "n_chars", k = 1.5)
    val survivors = graft.operators.Dedup
      .normalizedSurvivors(fenced, "doc_id", "text")
    Curation.shuffleKey(
        Curation.assignSplit(survivors, "doc_id", "graft",
          Seq("train" -> 0.8, "val" -> 0.9, "test" -> 1.0)),
        "doc_id", "epoch0")
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("split"),
        col("shuffle_key"))
      .orderBy(col("doc_id"))
  }

  val corpusBuildSql: String = {
    val normDigest = raw"md5(trim(regexp_replace(strip_accents(lower(" +
      raw"nfc_normalize(text))), '\s+', ' ', 'g')))"
    s"""WITH floored AS (
       |  SELECT doc_id, n_chars, text, len($toksSql) AS n_words
       |  FROM documents WHERE len($toksSql) >= 5),
       |b AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
       |             quantile_cont(n_chars, 0.75) AS q3 FROM floored),
       |fenced AS (
       |  SELECT doc_id, n_chars, text, n_words FROM floored, b
       |  WHERE CAST(n_chars AS DOUBLE) >= q1 - 1.5 * (q3 - q1)
       |    AND CAST(n_chars AS DOUBLE) <= q3 + 1.5 * (q3 - q1)),
       |surv AS (
       |  SELECT doc_id, n_chars, n_words FROM (
       |    SELECT doc_id, n_chars, n_words, row_number() OVER (
       |      PARTITION BY $normDigest ORDER BY doc_id) AS rn
       |    FROM fenced) z WHERE rn = 1)
       |SELECT doc_id, n_words, n_chars,
       |  CASE WHEN u < 0.8 THEN 'train'
       |       WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
       |  ${uSql("doc_id", "epoch0")} AS shuffle_key
       |FROM (SELECT doc_id, n_chars, n_words,
       |        ${uSql("doc_id", "graft")} AS u FROM surv) y
       |ORDER BY doc_id""".stripMargin
  }

  // -- near-dup clusters ----------------------------------------------------

  /** Near-dup pairs → connected components (pointer-jumping label
    * propagation) → cluster roster — the pair-to-cluster collapse every
    * dedup pipeline ends with. Edges come from the oracle-proven exact
    * Jaccard formulation (same cap/threshold as doc_jaccard_pairs) so
    * the clustering engine itself is oracle-gated: DuckDB recomputes the
    * components via recursive-CTE transitive closure. The minhash edge
    * source (the 100 TB path) keeps its own rows-only query + recall
    * tests, and minhash→cluster composition is covered in OperatorsSpec. */
  def neardupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup.jaccardPairsExact(
      Tables.documents(s, dir).filter(col("doc_id") < 150),
      "doc_id", "text", threshold = 0.9)
    graft.operators.Dedup.nearDupClusters(pairs, maxIter = 10)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("keep_id"))
      .orderBy(col("cluster"))
  }

  /** Connected components in SQL: symmetrize the edge list, then the
    * recursive closure propagates every reachable label to every node;
    * min(label) per node is the component id (= min member id, matching
    * nearDupClusters' min-label convention). */
  val neardupClustersSql: String =
    s"""WITH RECURSIVE pr AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM (SELECT doc_id, list_distinct($toksSql) AS toks
       |        FROM documents WHERE doc_id < 150) a
       |  JOIN (SELECT doc_id, list_distinct($toksSql) AS toks
       |        FROM documents WHERE doc_id < 150) b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
       |    >= 0.9),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
       |          UNION SELECT id_b, id_a FROM pr),
       |reach(id, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
       |SELECT cluster, count(*) AS n_members, min(id) AS keep_id
       |FROM comp GROUP BY cluster ORDER BY cluster""".stripMargin

  // -- n-gram LM quality score ---------------------------------------------

  /** CCNet-style bigram-LM quality score: model trained on the first
    * half of the corpus (doc_id < 250·SF-scaled is deliberately a fixed
    * id cut so OOV and unseen-bigram paths are exercised), every doc
    * scored by mean smoothed bigram probability + OOV rate. Rational-
    * arithmetic mode → fully oracle-checkable. */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    TextPipeline.ngramLmScore(
        Tables.documents(s, dir), "doc_id", "text",
        ref = Tables.documents(s, dir).filter(col("doc_id") < 250),
        refTextCol = "text", k = 1.0)
      .orderBy(col("doc_id"))

  val lmScoreSql: String = {
    val bigramsOf = (rel: String) =>
      s"""SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(t) - 1, 0)),
         |    i -> {'w1': t[i], 'w2': t[i+1]})) AS u FROM $rel) z""".stripMargin
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |reft AS (SELECT doc_id, t FROM toks WHERE doc_id < 250),
       |uni AS (SELECT w1, count(*) AS c1 FROM
       |  (SELECT unnest(t) AS w1 FROM reft) z GROUP BY w1),
       |vsz AS (SELECT count(*) AS v_size FROM uni),
       |big AS (SELECT w1, w2, count(*) AS c2 FROM (
       |  ${bigramsOf("reft")}) rb GROUP BY w1, w2),
       |docbg AS (${bigramsOf("toks")}),
       |bg AS (SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(CAST(((coalesce(c2, 0) + 1.0) /
       |      (coalesce(c1, 0) + 1.0 * v_size)) AS DECIMAL(18,12)))
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS lm_score
       |  FROM docbg LEFT JOIN big USING (w1, w2)
       |    LEFT JOIN uni USING (w1) CROSS JOIN vsz
       |  GROUP BY doc_id),
       |un AS (SELECT doc_id, count(*) AS n_tokens,
       |    sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM (SELECT doc_id, unnest(t) AS w1 FROM toks) z
       |    LEFT JOIN uni USING (w1)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(un.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(un.n_oov, 0) AS BIGINT) AS n_oov,
       |  CASE WHEN coalesce(un.n_tokens, 0) > 0
       |    THEN CAST(un.n_oov AS DOUBLE) / CAST(un.n_tokens AS DOUBLE)
       |    ELSE 0.0 END AS oov_rate,
       |  CAST(coalesce(bg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  bg.lm_score AS lm_score
       |FROM documents d LEFT JOIN un USING (doc_id)
       |  LEFT JOIN bg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // -- deterministic global shuffle ----------------------------------------

  def shuffle(s: SparkSession, dir: String): DataFrame =
    Curation.shuffleKey(Tables.documents(s, dir), "doc_id", "epoch0")
      .select(col("doc_id"), col("shuffle_key"))
      .orderBy(col("shuffle_key"), col("doc_id"))

  val shuffleSql: String =
    s"""SELECT doc_id, ${uSql("doc_id", "epoch0")} AS shuffle_key
       |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin

  // -- weighted priority sampling (Ohlsson 1998 / Duffield 2005) -----------

  /** 50 orders drawn ∝ o_totalprice without replacement: priority
    * q = u/w, k smallest win. The oracle replays the identical
    * md5-60 u and one IEEE division, so the SELECTED SET hash-matches —
    * a property no rand()-based weighted sampler has. */
  def sampleWeightedQ(s: SparkSession, dir: String): DataFrame =
    Curation.sampleWeighted(Tables.orders(s, dir), "o_orderkey",
        "o_totalprice", k = 50, seed = "wpri")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  val sampleWeightedSql: String =
    s"""SELECT o_orderkey, o_totalprice FROM (
       |  SELECT o_orderkey, o_totalprice
       |  FROM orders WHERE o_totalprice > 0
       |  ORDER BY ${uSql("o_orderkey", "wpri")} / o_totalprice, o_orderkey
       |  LIMIT 50)
       |ORDER BY o_orderkey""".stripMargin

  /** Per-language length-weighted quota: 4 docs per lang drawn
    * ∝ n_chars (longer documents carry more training signal). Empty
    * docs (n_chars = 0) are excluded by the w > 0 contract. */
  def sampleWeightedGroupQ(s: SparkSession, dir: String): DataFrame =
    Curation.sampleWeightedByGroup(Tables.documents(s, dir), "lang",
        "doc_id", "n_chars", k = 4, seed = "wquota")
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))

  val sampleWeightedGroupSql: String =
    s"""SELECT lang, doc_id, n_chars FROM (
       |  SELECT lang, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY ${uSql("doc_id", "wquota")} / CAST(n_chars AS DOUBLE),
       |               doc_id) AS rn
       |  FROM documents WHERE n_chars > 0)
       |WHERE rn <= 4 ORDER BY lang, doc_id""".stripMargin

  /** Deterministic contrastive negatives: 2 partners per document,
    * never the anchor, uniform over the corpus — reproducible pair
    * generation for embedding training. The dense-index + offset
    * construction replays exactly in SQL (row_number ≡ the operator's
    * sorted zipWithIndex), so the PAIRING hash-matches. */
  def sampleNegativesQ(s: SparkSession, dir: String): DataFrame =
    Curation.sampleNegatives(Tables.documents(s, dir), "doc_id", k = 2,
        seed = "negs")
      .orderBy(col("doc_id"), col("neg_rank"))

  val sampleNegativesSql: String = {
    val h = graft.plans.PortableHash.sqlMd5_60(
      "'negs|' || CAST(x.doc_id AS VARCHAR) || '|' || CAST(t.j AS VARCHAR)")
    s"""WITH idx AS MATERIALIZED (
       |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS i
       |  FROM (SELECT DISTINCT doc_id FROM documents)),
       |nt AS (SELECT count(*) AS n FROM idx),
       |a AS (SELECT x.doc_id, t.j,
       |    (x.i + 1 + ($h % (nt.n - 1))) % nt.n AS ni
       |  FROM idx x CROSS JOIN nt CROSS JOIN generate_series(0, 1) t(j))
       |SELECT a.doc_id, a.j AS neg_rank, y.doc_id AS neg_doc_id
       |FROM a JOIN idx y ON a.ni = y.i
       |ORDER BY a.doc_id, neg_rank""".stripMargin
  }

  // -- temperature-balanced mixture (p ∝ n^alpha resampling) ---------------

  /** α=0.5 language rebalancing over the skewed `lang` column with a
    * 400-row budget: `en` (218 docs) keeps ~56%, `fr` (64 docs) hits
    * the min(1,·) cap — both regimes exercised. Fully hash-checkable:
    * rates derive from sqrt (IEEE-exact) over a decimal-exact Σ√n. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    Curation.temperatureMixture(Tables.documents(s, dir), "lang", "doc_id",
        alpha = 0.5, budget = 400, seed = "graft-temp")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val temperatureMixSql: String =
    s"""WITH cnts AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(CAST(sum(CAST(sqrt(CAST(n_g AS DOUBLE))
       |                 AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS w_sum
       |        FROM cnts),
       |rates AS (SELECT lang,
       |    least(1.0, 400.0 * (sqrt(CAST(n_g AS DOUBLE)) / w_sum)
       |          / CAST(n_g AS DOUBLE)) AS rate
       |  FROM cnts, tot)
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN rates r USING (lang)
       |WHERE ${uSql("doc_id", "graft-temp")} < rate
       |ORDER BY doc_id""".stripMargin

  // -- curriculum buckets (broadcast-percentile bands, not ntile) ----------

  /** Quartile difficulty bands over document length — the sort-free
    * curriculum-ordering stage: exact percentile cutoffs broadcast into
    * a codegen band lookup (an unpartitioned ntile window would funnel
    * the corpus through one reducer). */
  def curriculumQ(s: SparkSession, dir: String): DataFrame =
    Curation.curriculumBuckets(Tables.documents(s, dir), "n_chars", 4)
      .select(col("doc_id"), col("n_chars"), col("bucket"))
      .orderBy(col("doc_id"))

  val curriculumSql: String =
    """SELECT doc_id, n_chars,
      |  CASE WHEN CAST(n_chars AS DOUBLE) <= c1 THEN 1
      |       WHEN CAST(n_chars AS DOUBLE) <= c2 THEN 2
      |       WHEN CAST(n_chars AS DOUBLE) <= c3 THEN 3
      |       ELSE 4 END AS bucket
      |FROM documents, (SELECT quantile_cont(n_chars, 0.25) AS c1,
      |                        quantile_cont(n_chars, 0.50) AS c2,
      |                        quantile_cont(n_chars, 0.75) AS c3
      |                 FROM documents) cuts
      |ORDER BY doc_id""".stripMargin

  // -- per-group quality gate + score calibration --------------------------

  /** Top 30% of documents per language by length — the per-source
    * quality gate a single global cut can't express. */
  def topFracQ(s: SparkSession, dir: String): DataFrame =
    Curation.filterTopFracByGroup(Tables.documents(s, dir), "lang",
        "n_chars", frac = 0.3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val topFracSql: String =
    """SELECT doc_id, lang, n_chars
      |FROM documents d JOIN (
      |  SELECT lang, quantile_cont(n_chars, 0.7) AS cut
      |  FROM documents GROUP BY lang) c USING (lang)
      |WHERE CAST(n_chars AS DOUBLE) >= cut
      |ORDER BY doc_id""".stripMargin

  /** Per-language z-scores of document length (decimal-exact moments,
    * zero-variance groups map to z = 0). */
  def standardizeQ(s: SparkSession, dir: String): DataFrame =
    Curation.standardizeByGroup(Tables.documents(s, dir), "lang",
        "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("z"))
      .orderBy(col("doc_id"))

  val standardizeSql: String = {
    def dsum38(e: String) =
      s"CAST(CAST(sum(CAST(($e) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    s"""SELECT doc_id, lang, n_chars,
       |  CASE WHEN n_chars IS NULL THEN NULL
       |       WHEN n <= 1 OR (m2 - m * m) <= 0.0 THEN 0.0
       |       ELSE (CAST(n_chars AS DOUBLE) - m) / sqrt(m2 - m * m)
       |  END AS z
       |FROM documents d JOIN (
       |  SELECT lang,
       |    ${dsum38("CAST(n_chars AS DOUBLE)")} / count(*) AS m,
       |    ${dsum38("CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)")}
       |      / count(*) AS m2,
       |    count(*) AS n
       |  FROM documents GROUP BY lang) s USING (lang)
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-language quantile normalization of document length (rank
    * calibration for non-Gaussian distributions). */
  def quantileNormQ(s: SparkSession, dir: String): DataFrame =
    Curation.quantileNormalizeByGroup(Tables.documents(s, dir), "lang",
        "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("qnorm"))
      .orderBy(col("doc_id"))

  val quantileNormSql: String =
    """SELECT doc_id, lang, n_chars,
      |  percent_rank() OVER (PARTITION BY lang
      |    ORDER BY CAST(n_chars AS DOUBLE)) AS qnorm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Source-interleaved training order over languages; the (seq, lang)
    * pair encodes the cycle position, so the order is value-checkable
    * under the driver's sorted compare. */
  def interleaveQ(s: SparkSession, dir: String): DataFrame =
    Curation.interleaveBySource(Tables.documents(s, dir), "lang",
        "doc_id", "ravel", seqCol = Some("seq"))
      .select(col("seq").cast("long").as("seq"), col("lang"), col("doc_id"))

  val interleaveSql: String =
    s"""SELECT seq, lang, doc_id FROM (
       |  SELECT doc_id, lang, CAST(row_number() OVER (
       |      PARTITION BY lang
       |      ORDER BY ${uSql("doc_id", "ravel")}, doc_id) AS BIGINT) AS seq
       |  FROM documents)
       |ORDER BY seq, lang""".stripMargin

  /** Per-language modified z-scores of document length (Iglewicz–
    * Hoaglin robust outlier rule). */
  def modifiedZQ(s: SparkSession, dir: String): DataFrame =
    Curation.modifiedZByGroup(Tables.documents(s, dir), "lang", "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("mz"))
      .orderBy(col("doc_id"))

  val modifiedZSql: String =
    """SELECT doc_id, lang, n_chars,
      |  CASE WHEN mad <= 0.0 THEN 0.0
      |       ELSE CAST(0.6745 AS DOUBLE)
      |         * (CAST(n_chars AS DOUBLE) - med) / mad END AS mz
      |FROM documents d
      |JOIN (SELECT lang, quantile_cont(n_chars, 0.5) AS med
      |      FROM documents GROUP BY lang) m USING (lang)
      |JOIN (SELECT lang,
      |        quantile_cont(abs(CAST(n_chars AS DOUBLE) - med), 0.5) AS mad
      |      FROM documents
      |      JOIN (SELECT lang, quantile_cont(n_chars, 0.5) AS med
      |            FROM documents GROUP BY lang) mm USING (lang)
      |      GROUP BY lang) s USING (lang)
      |ORDER BY doc_id""".stripMargin

  /** Per-source distribution drift of document length vs the reference
    * source src0: exact-rational KS statistic + binned total-variation
    * distance (the refresh-gating monitor — see
    * [[Curation.driftReport]] for why no PSI/ln ever enters). */
  def driftQ(s: SparkSession, dir: String): DataFrame =
    Curation.driftReport(Tables.documents(s, dir), "source", "n_chars",
        refGroup = "src0", binWidth = 64)
      .orderBy(col("source"))

  /** Oracle replays the same integer-numerator construction; products
    * stay in DECIMAL(18,0)×DECIMAL(18,0) (DuckDB rejects 38×38
    * multiplies) and every decimal→double crossing routes through
    * VARCHAR (the dsumSql cast hazard). */
  val driftSql: String =
    """WITH c AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
      |             CAST(count(*) AS BIGINT) AS c
      |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |n AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY g),
      |nr AS (SELECT n FROM n WHERE g = 'src0'),
      |r AS (SELECT v, c AS cr FROM c WHERE g = 'src0'),
      |grid AS (SELECT o.g, o.n AS n_g, x.v
      |         FROM (SELECT g, n FROM n WHERE g <> 'src0') o
      |         CROSS JOIN (SELECT DISTINCT v FROM c) x),
      |j AS (SELECT grid.g, grid.n_g, grid.v,
      |        COALESCE(cg.c, 0) AS cg, COALESCE(r.cr, 0) AS cr
      |      FROM grid
      |      LEFT JOIN c cg ON cg.g = grid.g AND cg.v = grid.v
      |      LEFT JOIN r ON r.v = grid.v),
      |cum AS (SELECT g, n_g,
      |          CAST(sum(cg) OVER (PARTITION BY g ORDER BY v)
      |               AS DECIMAL(18,0)) AS Cg,
      |          CAST(sum(cr) OVER (PARTITION BY g ORDER BY v)
      |               AS DECIMAL(18,0)) AS Cr
      |        FROM j),
      |ks AS (SELECT g, n_g,
      |         max(abs(Cr * CAST(n_g AS DECIMAL(18,0))
      |               - Cg * CAST((SELECT n FROM nr) AS DECIMAL(18,0))))
      |           AS ks_num
      |       FROM cum GROUP BY g, n_g),
      |tv AS (SELECT g,
      |         sum(abs(CAST(bg AS DECIMAL(18,0))
      |                   * CAST((SELECT n FROM nr) AS DECIMAL(18,0))
      |               - CAST(br AS DECIMAL(18,0))
      |                   * CAST(n_g AS DECIMAL(18,0)))) AS tvd_num
      |       FROM (SELECT g, n_g, v // 64 AS bin,
      |               sum(cg) AS bg, sum(cr) AS br
      |             FROM j GROUP BY g, n_g, v // 64) b
      |       GROUP BY g)
      |SELECT ks.g AS source, CAST(ks.n_g AS BIGINT) AS n_rows,
      |  CAST(CAST(ks_num AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(CAST(ks.n_g AS DECIMAL(18,0))
      |        * CAST((SELECT n FROM nr) AS DECIMAL(18,0)) AS VARCHAR)
      |        AS DOUBLE) AS ks,
      |  CAST(CAST(tvd_num AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(CAST(ks.n_g AS DECIMAL(18,0))
      |        * CAST((SELECT n FROM nr) AS DECIMAL(18,0))
      |        * 2 AS VARCHAR) AS DOUBLE) AS tvd
      |FROM ks JOIN tv ON ks.g = tv.g
      |ORDER BY source""".stripMargin

  /** Per-source exact-duplicate rate (the dedup-stage health report):
    * docs, distinct texts (md5 digest), duplicate rows, and the rate
    * as one exact-integer-operand division. One digest-keyed count —
    * the same shuffle the dedup itself performs. */
  def dupRateQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(coalesce(md5(col("text")), lit("<null>")))
          .as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dups"),
        ((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double")).as("dup_rate"))
      .orderBy(col("source"))

  val dupRateSql: String =
    """SELECT source, n_docs, n_distinct,
      |  n_docs - n_distinct AS n_dups,
      |  CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS dup_rate
      |FROM (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(count(DISTINCT COALESCE(md5(text), '<null>')) AS BIGINT)
      |      AS n_distinct
      |  FROM documents GROUP BY source)
      |ORDER BY source""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("corpus_dup_rate", dupRateQ, dupRateSql),
    Gate("corpus_drift", driftQ, driftSql),
    Gate("outlier_modified_z", modifiedZQ, modifiedZSql),
    Gate("corpus_interleave", interleaveQ, interleaveSql),
    Gate("corpus_quantile_norm", quantileNormQ, quantileNormSql),
    Gate("corpus_top_frac", topFracQ, topFracSql),
    Gate("corpus_standardize", standardizeQ, standardizeSql),
    Gate("corpus_temperature_mix", temperatureMix, temperatureMixSql),
    Gate("corpus_curriculum", curriculumQ, curriculumSql),
    Gate("corpus_negatives", sampleNegativesQ, sampleNegativesSql),
    Gate("corpus_sample_weighted", sampleWeightedQ, sampleWeightedSql),
    Gate("corpus_sample_weighted_group", sampleWeightedGroupQ, sampleWeightedGroupSql),
    Gate("corpus_split", split, splitSql),
    Gate("corpus_split_leakfree", splitLeakFree, splitLeakFreeSql),
    Gate("corpus_sample_group", sampleGroup, sampleGroupSql),
    Gate("corpus_bootstrap", bootstrapQ, bootstrapSql),
    Gate("corpus_mixture", mixture, mixtureSql),
    Gate("corpus_survivors", survivors, survivorsSql),
    Gate("corpus_shuffle", shuffle, shuffleSql),
    Gate("doc_repetition", repetition, repetitionSql),
    Gate("doc_lm_score", lmScore, lmScoreSql),
    Gate("outlier_filter", outlierFilter, outlierFilterSql),
    Gate("outlier_winsorize", winsorizeQ, winsorizeSql),
    Gate("outlier_mad", madQ, madSql),
    Gate("corpus_build", corpusBuild, corpusBuildSql),
    Gate("doc_neardup_clusters", neardupClusters, neardupClustersSql))
}
