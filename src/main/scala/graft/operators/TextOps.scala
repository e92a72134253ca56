package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis (SURVEY §2.F): language-ID heuristic, quality
  * scoring, token statistics, document fingerprinting — all pure
  * per-row/aggregate expressions (whole-stage codegen, no UDFs),
  * exact integer arithmetic wherever the oracle must hash-match.
  */
object TextOps {

  private val tk = Dedup.tokensExpr

  private[graft] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "for")
  private val stopEs = Seq("el", "la", "de", "y", "en", "que", "los", "del")
  private val stopDe = Seq("der", "die", "und", "das", "von", "mit", "ist", "den")
  private val stopFr = Seq("le", "la", "de", "et", "les", "des", "un", "une")

  private def sqlArr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
  private def scoreExpr(ws: Seq[String]) =
    s"size(filter(tk, x -> array_contains(array(${sqlArr(ws)}), x)))"
  private[operators] def duckScore(ws: Seq[String]) =
    s"len(list_filter(tk, x -> list_contains([${sqlArr(ws)}], x)))"

  /** q60's quality_score as ONE oracle-SQL fragment (expects a
    * `tk` token-list column in scope) — shared by q60Sql, Sampling's
    * gate, q133Sql, and q134Sql so the scoring text cannot drift
    * between the oracles that hash-compare against TextOps.q60. */
  private[operators] val QualityScoreSql: String =
    ops.R4(s"least(1.0, len(tk)/100.0) * (1.0 - ${duckScore(stopEn)}*1.0 / len(tk))")

  /** Per-document quality score from length/stopword signals. */
  /** q60's rounded quality score over a frame carrying `tk` — the
    * ONE Spark-side definition (q60 itself and q68's single-scan
    * gate both project it; `QualityScoreSql` is the oracle twin). */
  private[graft] def qualityScoreCol: Column = {
    val n = expr("size(tk)")
    val stop = expr(scoreExpr(stopEn))
    ops.r4(least(lit(1.0), n / 100.0) * (lit(1.0) - stop * 1.0 / n))
  }

  def q60(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .withColumn("n_tokens", expr("size(tk)"))
      .withColumn("sum_len", expr("aggregate(tk, 0L, (a, x) -> a + length(x))"))
      .withColumn("n_stop", expr(scoreExpr(stopEn)))
      .select(
        col("doc_id"), col("n_tokens"),
        ops.r4(col("sum_len") * 1.0 / col("n_tokens")).as("avg_token_len"),
        ops.r4(col("n_stop") * 1.0 / col("n_tokens")).as("stopword_ratio"),
        qualityScoreCol.as("quality_score"))
      .orderBy("doc_id")

  private val q60Sql =
    s"""SELECT doc_id, len(tk) AS n_tokens,
       ${ops.R4("list_sum(list_transform(tk, x -> length(x)))*1.0 / len(tk)")} AS avg_token_len,
       ${ops.R4(s"${duckScore(stopEn)}*1.0 / len(tk)")} AS stopword_ratio,
       $QualityScoreSql AS quality_score
       FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk FROM documents)
       ORDER BY doc_id"""

  /** The deterministic argmax tiebreak (en > es > de > fr) as ONE
    * oracle fragment (expects s_en..s_fr in scope) — shared by
    * q61Sql (twice) and q152Sql. */
  private val PredLangSql =
    """CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END"""

  /** Stopword-profile language identification with deterministic
    * argmax tiebreak (en > es > de > fr). */
  def q61(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .withColumn("s_en", expr(scoreExpr(stopEn)))
      .withColumn("s_es", expr(scoreExpr(stopEs)))
      .withColumn("s_de", expr(scoreExpr(stopDe)))
      .withColumn("s_fr", expr(scoreExpr(stopFr)))
      .withColumn("predicted_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("s_en"), col("s_es"), col("s_de"), col("s_fr"),
        col("predicted_lang"), col("lang").as("actual_lang"),
        (col("predicted_lang") === col("lang")).as("is_match"))
      .orderBy("doc_id")

  private val q61Sql =
    s"""SELECT doc_id, s_en, s_es, s_de, s_fr,
       $PredLangSql AS predicted_lang,
       lang AS actual_lang,
       ($PredLangSql) = lang AS is_match
       FROM (SELECT doc_id, lang,
               CAST(${duckScore(stopEn)} AS INT) AS s_en,
               CAST(${duckScore(stopEs)} AS INT) AS s_es,
               CAST(${duckScore(stopDe)} AS INT) AS s_de,
               CAST(${duckScore(stopFr)} AS INT) AS s_fr
             FROM (SELECT doc_id, lang, list_filter(string_split(text,' '), x -> x<>'') AS tk
                   FROM documents))
       ORDER BY doc_id"""

  /** Token statistics per source (whitespace + BPE-ish subword count
    * = Σ ceil(len/4), exact integer arithmetic). */
  def q62(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .withColumn("n_tokens", expr("size(tk)"))
      .withColumn("n_subwords",
        expr("aggregate(tk, 0L, (a, x) -> a + CAST(ceil(length(x)/4.0) AS BIGINT))"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_subwords").as("total_subwords"),
        max("n_tokens").as("max_tokens"),
        ops.r4(sum("n_tokens") * lit(1.0) / count(lit(1))).as("avg_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")

  private val q62Sql =
    s"""SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       ${ops.R4("sum(n_tokens)*1.0 / count(*)")} AS avg_tokens,
       count(DISTINCT lang) AS n_langs
       FROM (SELECT source, lang, len(tk) AS n_tokens,
               list_sum(list_transform(tk, x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS n_subwords
             FROM (SELECT source, lang, list_filter(string_split(text,' '), x -> x<>'') AS tk
                   FROM documents))
       GROUP BY source ORDER BY source"""

  /** Position-weighted polynomial fingerprint — order-sensitive but
    * built from integer SUMS, so it is exact and engine-independent:
    * fp = Σ_i i · (Σ_j j · ascii(c_ij)). */
  def q63(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .select(col("doc_id"), expr(
        """aggregate(
             transform(sequence(1, size(tk)), i ->
               CAST(i AS BIGINT) * aggregate(
                 transform(sequence(1, length(element_at(tk, i))), j ->
                   CAST(j AS BIGINT) * ascii(substring(element_at(tk, i), j, 1))),
                 0L, (a, x) -> a + x)),
             0L, (a, x) -> a + x)""").as("fingerprint"))
      .orderBy("doc_id")

  private val q63Sql =
    """SELECT doc_id,
       CAST(list_sum(list_transform(range(1, len(tk)+1), i ->
         i * list_sum(list_transform(range(1, length(tk[i])+1), j ->
           j * ascii(tk[i][j]))))) AS BIGINT) AS fingerprint
       FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk FROM documents)
       ORDER BY doc_id"""

  /** PII patterns — deliberately in the syntax subset where Java
    * regex (Spark) and RE2 (DuckDB) agree: character classes,
    * bounded/unbounded repetition, no backrefs or lookaround. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+[0-9]{7,15}"

  /** PII scrubbing core over any (doc_id, text) frame — exposed so
    * TextOpsSpec can drive synthetic PII through it (the natural
    * corpus is clean, which the oracle also verifies). */
  def scrub(df: DataFrame): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))))
      .select(
        col("doc_id"), col("n_emails"), col("n_phones"),
        (col("n_emails") + col("n_phones") === 0).as("is_clean"),
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("scrubbed"))

  /** PII redaction pass: count and mask emails/phone numbers — the
    * compliance step every training pipeline runs before a corpus
    * leaves quarantine. Pure per-row regex projection (map-only at
    * any scale); patterns live in ONE constant for engine/oracle
    * parity. */
  def q64(s: SparkSession, dir: String): DataFrame =
    scrub(Tables(s, dir, "documents")).orderBy("doc_id")

  private val q64Sql = {
    // DuckDB standard strings don't process backslash escapes, so the
    // runtime pattern (single backslash before the dot) passes through
    // to RE2 verbatim.
    val email = EmailRe
    val phone = PhoneRe
    s"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '$phone')) AS INT) AS n_phones,
       len(regexp_extract_all(text, '$email')) + len(regexp_extract_all(text, '$phone')) = 0 AS is_clean,
       regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS scrubbed
       FROM documents ORDER BY doc_id"""
  }

  /** Repetition keep-thresholds (Gopher-style), shared with the
    * oracle SQL via ONE constant each. The keep flag compares the RAW
    * ratios (identical IEEE division both engines), never the rounded
    * output columns. Calibrated non-degenerate on the test corpus:
    * ~62% keep at sf0.001/sf0.01. */
  private val DistinctThr = "0.4"
  private val TopTokThr = "0.2"
  private val TopBgThr = "0.125"

  /** Token-level repetition quality stats (the Gopher/MassiveText
    * repetition-filter family, restated for a corpus without line
    * structure): distinct-token ratio, most-frequent-token fraction,
    * most-frequent-bigram fraction, and the composed keep flag.
    * Pure per-row higher-order-function arithmetic — whole-stage
    * codegen, no shuffle, map-only at any scale. The per-row count
    * is O(distinct×n) on docs bounded at ~100 tokens; a long-doc
    * corpus would swap the transform/filter scan for a sort-based
    * mode count, same columns. */
  def q71(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .withColumn("n", expr("size(tk)"))
      .withColumn("nd", expr("size(array_distinct(tk))"))
      .withColumn("topc",
        expr("array_max(transform(array_distinct(tk), u -> size(filter(tk, x -> x = u))))"))
      .withColumn("bg", expr(
        """CASE WHEN size(tk) >= 2
           THEN transform(sequence(1, size(tk)-1),
                i -> concat_ws(' ', element_at(tk,i), element_at(tk,i+1)))
           ELSE array() END"""))
      .withColumn("topbg", expr(
        """CASE WHEN size(bg) > 0
           THEN array_max(transform(array_distinct(bg), u -> size(filter(bg, x -> x = u))))
           ELSE 0 END"""))
      .withColumn("dr", col("nd") * 1.0 / col("n"))
      .withColumn("tt", col("topc") * 1.0 / col("n"))
      .withColumn("tb", col("topbg") * 1.0 / greatest(col("n") - 1, lit(1)))
      .select(col("doc_id"), col("n").as("n_tokens"),
        ops.r4(col("dr")).as("distinct_ratio"),
        ops.r4(col("tt")).as("top_token_frac"),
        ops.r4(col("tb")).as("top_bigram_frac"),
        (col("dr") >= DistinctThr.toDouble && col("tt") <= TopTokThr.toDouble &&
          col("tb") <= TopBgThr.toDouble).as("keep"))
      .orderBy("doc_id")

  private val q71Sql =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk FROM documents),
       s AS (SELECT doc_id, len(tk) AS n,
               len(list_distinct(tk)) AS nd,
               list_max(list_transform(list_distinct(tk), u -> len(list_filter(tk, x -> x = u)))) AS topc,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                    ELSE [] END AS bg
             FROM t),
       s2 AS (SELECT doc_id, n, nd, topc,
                CASE WHEN len(bg) > 0
                     THEN list_max(list_transform(list_distinct(bg), u -> len(list_filter(bg, x -> x = u))))
                     ELSE 0 END AS topbg
              FROM s)
       SELECT doc_id, n AS n_tokens,
         ${ops.R4("nd*1.0/n")} AS distinct_ratio,
         ${ops.R4("topc*1.0/n")} AS top_token_frac,
         ${ops.R4("topbg*1.0/greatest(n-1,1)")} AS top_bigram_frac,
         (nd*1.0/n >= $DistinctThr AND topc*1.0/n <= $TopTokThr
           AND topbg*1.0/greatest(n-1,1) <= $TopBgThr) AS keep
       FROM s2 ORDER BY doc_id"""

  /** BM25 query terms and parameters — ONE constant set, spelled into
    * the oracle SQL. The idf is the RATIONAL form
    * (N - df + 0.5)/(df + 0.5) rather than its logarithm: ln is not
    * exactly-rounded in either engine (java.lang.Math.log vs libm)
    * while +,-,*,/ are IEEE-exact in both, so the rational form ranks
    * identically and hash-matches bit-for-bit. k1+1 and 1-b are
    * pre-folded into the literals 2.2 and 0.25 (both parse to the
    * identical double in both engines). */
  private[graft] val BmTerms = Seq("spark", "window", "merge")
  private val BmTopK = 10

  /** BM25 keyword search: score every document against a fixed term
    * set and return the top-10 — the retrieval primitive of a
    * training-data pipeline (quality-targeted corpus probes, memorized
    * -content search, dataset audits).
    *
    * Scale shape: the term list is a tiny constant, so tf is a
    * map-side `size(filter(tk, ...))` per term — no explode, no
    * posting-list shuffle; corpus stats (N, Σdl, per-term df) are ONE
    * single-row aggregate broadcast back; scoring is a per-row
    * projection and the top-10 is TakeOrderedAndProject (per-partition
    * heap + driver merge). One scan, one 1-row agg, zero data-sized
    * shuffles at any corpus size. */
  def q78(s: SparkSession, dir: String): DataFrame = {
    val d0 = Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .withColumn("dl", expr("size(tk)").cast("double"))
    val d = BmTerms.zipWithIndex.foldLeft(d0) { case (df, (t, i)) =>
      df.withColumn(s"tf$i", expr(s"size(filter(tk, x -> x = '$t'))").cast("double"))
    }
    val stats = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl") +: // integer-valued doubles: exact sum, order-free
        BmTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i")): _*)
    // per-term contribution, parenthesized EXACTLY like the oracle SQL
    // (same IEEE expression tree → bit-identical score)
    def contrib(i: Int): Column =
      ((col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))) *
        (col(s"tf$i") * lit(2.2)) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / (col("sum_dl") / col("n_docs")))))
    // The top-10 cutoff ranks on the ROUNDED micro-score as a BIGINT
    // (score_u = floor(score·10⁶ + 0.5), doc_id tiebreak below it) —
    // an integer total order, so the rank-10/11 boundary can never
    // flip on an accumulated ulp of the raw double (the q09/q79 risk
    // class). The output bm25 IS score_u/10⁶ (≡ r6(score)), so the
    // ranking key adds zero risk beyond what the hash-compared output
    // column already carries: if the rounding itself disagreed, the
    // compare would fail regardless of rank order. The sign filter
    // stays on the raw score (exact: a sum of nonnegative terms is
    // positive iff any tf > 0).
    val scored = d.crossJoin(broadcast(stats))
      .withColumn("score", BmTerms.indices.map(contrib).reduceLeft(_ + _))
      .filter(col("score") > 0)
      .withColumn("score_u", floor(col("score") * 1000000.0 + 0.5).cast("long"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(BmTopK)
    scored.select(
      col("doc_id") +:
        BmTerms.zipWithIndex.map { case (t, i) => col(s"tf$i").cast("int").as(s"tf_$t") } :+
        col("dl").cast("int").as("n_tokens") :+
        (col("score_u") / lit(1000000.0)).as("bm25"): _*)
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  private val q78Sql = {
    val tfDefs = BmTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t'))::DOUBLE AS tf$i"
    }.mkString(",\n               ")
    val dfDefs = BmTerms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i").mkString(",\n               ")
    val contribs = BmTerms.indices.map(i =>
      s"((n_docs - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.2) / " +
        s"(tf$i + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs))))")
    val score = contribs.map(c => s"($c)").mkString(" + ")
    val tfOut = BmTerms.zipWithIndex.map { case (t, i) => s"CAST(tf$i AS INT) AS tf_$t" }
      .mkString(", ")
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
                   FROM documents),
       d AS (SELECT doc_id, len(tk)::DOUBLE AS dl,
               $tfDefs
             FROM t),
       st AS (SELECT count(*)::DOUBLE AS n_docs, sum(dl) AS sum_dl,
               $dfDefs
              FROM d),
       sc AS (SELECT doc_id, dl, ${BmTerms.indices.map(i => s"tf$i").mkString(", ")},
                $score AS score
              FROM d, st),
       sc2 AS (SELECT *, CAST(floor(score*1000000.0 + 0.5) AS BIGINT) AS score_u
               FROM sc WHERE score > 0)
       SELECT * FROM (
         SELECT doc_id, $tfOut, CAST(dl AS INT) AS n_tokens,
           score_u / 1000000.0 AS bm25
         FROM sc2
         ORDER BY score_u DESC, doc_id LIMIT $BmTopK)
       ORDER BY bm25 DESC, doc_id"""
  }

  /** Per-language corpus data card — the release report a training
    * corpus ships with: volume, token share, exact-dup rate, PII
    * incidence, language-ID agreement, mean quality. One pass over
    * the corpus (per-doc codegen'd expressions), one hash shuffle for
    * the md5 dup window, one 10-group aggregate — no driver data
    * path at any scale.
    *
    * Every aggregate is integer-exact so the card oracle-matches:
    * counts are longs, mean quality accumulates per-row
    * floor(raw·10⁴+0.5) units (the q09 integer-cents pattern — a
    * double sum over 10⁸ rounded scores would drift a ulp across
    * partitionings), ratios divide longs and round once at the end. */
  def q79(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .withColumn("n", expr("size(tk)"))
      .withColumn("s_en", expr(scoreExpr(stopEn)))
      .withColumn("s_es", expr(scoreExpr(stopEs)))
      .withColumn("s_de", expr(scoreExpr(stopDe)))
      .withColumn("s_fr", expr(scoreExpr(stopFr)))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      // Column-API DOUBLE literals, exactly like q60's proven-green
      // quality_score: fractional literals inside expr() SQL text
      // parse as DECIMAL and round the floor(x*1e4+0.5) boundary
      // HALF_UP where DuckDB computes in binary double — the q09
      // latent divergence class
      .withColumn("qunits",
        when(col("n") > 0,
          floor(least(lit(1.0), col("n") / 100.0) *
            (lit(1.0) - col("s_en") * 1.0 / col("n")) * 10000.0 + 0.5).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("has_pii",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))) +
          size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))) > 0)
      .withColumn("is_dup",
        col("doc_id") =!= min("doc_id").over(
          Window.partitionBy(md5(col("text").cast("binary")))))
    val card = d.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n").cast("long")).as("total_tokens"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_docs"),
      sum(when(col("has_pii"), 1L).otherwise(0L)).as("pii_docs"),
      sum(when(col("predicted") === col("lang"), 1L).otherwise(0L)).as("langid_hits"),
      sum("qunits").as("sum_qunits"))
      // barrier (|langs| rows): the crossJoin below consumes card
      // twice (rows + grand total), and without it the whole corpus
      // scan + md5 dup window can execute twice (q65 lesson —
      // exchange reuse is a heuristic).
      .localCheckpoint(false)
    card.crossJoin(broadcast(card.agg(sum("total_tokens").as("corpus_tokens"))))
      .select(
        col("lang"), col("n_docs"), col("total_tokens"),
        ops.r4(col("total_tokens") * 1.0 / col("corpus_tokens")).as("token_share"),
        col("dup_docs"),
        ops.r4(col("dup_docs") * 1.0 / col("n_docs")).as("dup_rate"),
        col("pii_docs"),
        ops.r4(col("langid_hits") * 1.0 / col("n_docs")).as("langid_acc"),
        ops.r4(col("sum_qunits") / (col("n_docs") * 10000.0)).as("avg_quality"))
      .orderBy("lang")
  }

  private val q79Sql =
    s"""WITH t AS (SELECT doc_id, lang, text,
            list_filter(string_split(text,' '), x -> x<>'') AS tk FROM documents),
       d AS (SELECT doc_id, lang, text, len(tk) AS n,
               ${duckScore(stopEn)} AS s_en, ${duckScore(stopEs)} AS s_es,
               ${duckScore(stopDe)} AS s_de, ${duckScore(stopFr)} AS s_fr,
               CASE WHEN n > 0
                 THEN CAST(floor(least(1.0, n/100.0) * (1.0 - ${duckScore(stopEn)}*1.0/n) * 10000.0 + 0.5) AS BIGINT)
                 ELSE 0 END AS qunits,
               len(regexp_extract_all(text, '$EmailRe')) + len(regexp_extract_all(text, '$PhoneRe')) > 0 AS has_pii,
               doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
             FROM t),
       d2 AS (SELECT lang,
                CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                     WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                     WHEN s_de >= s_fr THEN 'de'
                     ELSE 'fr' END = lang AS langid_hit,
                n, qunits, has_pii, is_dup
              FROM d),
       card AS (SELECT lang, count(*) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS total_tokens,
                  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
                  CAST(sum(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
                  CAST(sum(CASE WHEN langid_hit THEN 1 ELSE 0 END) AS BIGINT) AS langid_hits,
                  CAST(sum(qunits) AS BIGINT) AS sum_qunits
                FROM d2 GROUP BY lang),
       tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens FROM card)
       SELECT lang, n_docs, total_tokens,
         ${ops.R4("total_tokens*1.0/corpus_tokens")} AS token_share,
         dup_docs,
         ${ops.R4("dup_docs*1.0/n_docs")} AS dup_rate,
         pii_docs,
         ${ops.R4("langid_hits*1.0/n_docs")} AS langid_acc,
         ${ops.R4("sum_qunits/(n_docs*10000.0)")} AS avg_quality
       FROM card, tot ORDER BY lang"""

  /** Vocabulary size cutoff — ONE constant, spelled into the SQL. */
  private val VocabK = 1000

  /** Corpus vocabulary construction — the tokenizer-seeding step of a
    * training pipeline: corpus-wide token frequencies and document
    * frequencies, top-VocabK by (count desc, token asc), with each
    * token's cumulative coverage share of the token stream.
    *
    * Scale shape: the canonical wordcount — explode + hash-shuffle
    * groupBy with map-side partial aggregation (the shuffle carries
    * one row per DISTINCT token per partition, not the token
    * stream); document frequency rides the same aggregate via
    * count(DISTINCT doc_id)'s two-level expansion. The top-K is
    * TakeOrderedAndProject; the cumulative share is a window over
    * the K retained rows only (bounded by contract, never
    * corpus-sized). */
  def q80(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explode the expression directly (the q77 codegen gotcha); the
    // corpus is scanned ONCE — the stream total derives from the
    // distinct-token aggregate, which is checkpointed for its two
    // consumers (top-K and the total)
    val toks = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr(tk)).as("token"))
    val counts = toks.groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct("doc_id").as("n_docs"))
      .localCheckpoint(false)
    val total = counts.agg(sum("n_occurrences").as("total_tokens"))
    val top = counts.orderBy(col("n_occurrences").desc, col("token"))
      .limit(VocabK)
      .crossJoin(broadcast(total))
    val w = Window.orderBy(col("n_occurrences").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, 0)
    top
      .withColumn("vocab_rank", row_number().over(w))
      .withColumn("cum_share", ops.r6(sum("n_occurrences").over(w) * 1.0 / col("total_tokens")))
      .select("vocab_rank", "token", "n_occurrences", "n_docs", "cum_share")
      .orderBy("vocab_rank")
  }

  private val q80Sql =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk FROM documents),
       tok AS (SELECT doc_id, unnest(tk) AS token FROM t),
       c AS (SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
             FROM tok GROUP BY token),
       tot AS (SELECT count(*) AS total_tokens FROM tok),
       top AS (SELECT * FROM c ORDER BY n_occurrences DESC, token LIMIT $VocabK)
       SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS vocab_rank,
         token,
         CAST(n_occurrences AS BIGINT) AS n_occurrences,
         CAST(n_docs AS BIGINT) AS n_docs,
         ${ops.R6("sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*1.0 / total_tokens")} AS cum_share
       FROM top, tot ORDER BY vocab_rank"""

  /** Text normalization — the cleanup pass every corpus pipeline runs
    * BEFORE dedup/quality (mojibake-control stripping, whitespace
    * canonicalization, case folding), so byte-trivial variants of
    * the same content hash identically downstream. Three rules,
    * deliberately ordered so the regexes stay in the Java∩RE2
    * portable subset (no `\s`, whose definition differs between the
    * engines — the control pass reduces all whitespace to literal
    * spaces first):
    *   1. control bytes [\x00-\x1f\x7f] (incl. tab/newline/VT) → ' '
    *   2. runs of spaces → one space; trim ends
    *   3. ASCII case fold (`lower`; the corpus contract is ASCII —
    *      both engines agree there, locale rules never engage)
    * Map-only at any scale: one projection, no shuffle except the
    * trailing order-stabilizing sort. */
  /** The control-byte character class — ONE constant for every Spark
    * flag and oracle SQL that mentions it (q85 normalization, q108
    * intake validation), per the shared-literal rule. Same class,
    * Java-escaped vs DuckDB-literal spelling. */
  private[graft] val CtrlClass = "[\\x00-\\x1f\\x7f]"
  private[operators] val CtrlClassSql = """[\x00-\x1f\x7f]"""

  private[graft] def normalizeCol(c: Column): Column =
    lower(trim(regexp_replace(regexp_replace(c, CtrlClass, " "), " +", " ")))

  def q85(s: SparkSession, dir: String): DataFrame = {
    val cleaned = normalizeCol(col("text"))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        cleaned.as("text_norm"),
        length(col("text")).cast("long").as("n_before"),
        length(cleaned).cast("long").as("n_after"),
        (cleaned =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  private val q85Sql =
    s"""WITH n AS (SELECT doc_id, text,
         lower(trim(regexp_replace(
           regexp_replace(text, '$CtrlClassSql', ' ', 'g'), ' +', ' ', 'g'))) AS text_norm
       FROM documents)
       SELECT doc_id, text_norm,
              CAST(length(text) AS BIGINT) AS n_before,
              CAST(length(text_norm) AS BIGINT) AS n_after,
              text_norm <> text AS changed
       FROM n ORDER BY doc_id"""

  /** Top merge-pair count for q87 and its noise floor. */
  private val MergeK = 100
  private val MergeMinCount = 5

  /** BPE-seed merge statistics — the first step of tokenizer
    * training: corpus-wide adjacent-token pair counts (the merge
    * candidates) with a lift score against independent unigram
    * rates. Canonical wordcount shapes throughout: in-select
    * positioned explode of the bigram array (the q69 form — no
    * Generate recompile), map-side-combined hash groupBys on
    * high-cardinality token keys, totals derived from the aggregates
    * (sum of pair counts / unigram counts — no second corpus pass),
    * TakeOrderedAndProject top-K on a strict (count desc, pair)
    * order. No logs in the lift: PMI's log is monotone in the
    * rational ratio, so ranking needs the ratio only — exact integer
    * counts through one double formula spelled identically in both
    * engines, never cross-engine libm. */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").withColumn("tkc", expr(tk))
    val bigramExpr =
      """CASE WHEN size(tkc) >= 2
         THEN transform(sequence(1, size(tkc)-1),
              i -> struct(element_at(tkc,i) AS t1, element_at(tkc,i+1) AS t2))
         ELSE array() END"""
    // r13: barrier both count frames — bc has 2 consumers (total +
    // the filtered join) and uni has 3 (total + both word joins),
    // which re-executed the bigram tokenize pass twice and the
    // unigram pass three times (5 corpus scans in the before plan).
    // Post-agg both are (bigram-)vocab-sized — the tiny-checkpoint
    // rule, serialized blocks.
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val bc = docs.select(explode(expr(bigramExpr)).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("pair_count"))
      .localCheckpoint(false, ser)
    val uni = docs.select(explode(expr(tk)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
      .localCheckpoint(false, ser)
    val tot = bc.agg(sum("pair_count").as("nbi"))
      .crossJoin(uni.agg(sum("cu").as("nuni")))
    bc.filter(col("pair_count") >= MergeMinCount)
      .join(uni.select(col("t").as("t1"), col("cu").as("cu1")), "t1")
      .join(uni.select(col("t").as("t2"), col("cu").as("cu2")), "t2")
      .crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("pair_count"),
        ops.r6((col("pair_count") * lit(1.0) / col("nbi")) *
          (col("nuni") * lit(1.0) / col("cu1")) *
          (col("nuni") * lit(1.0) / col("cu2"))).as("lift"))
      .orderBy(col("pair_count").desc, col("t1"), col("t2"))
      .limit(MergeK)
  }

  private val q87Sql =
    s"""WITH t AS (SELECT list_filter(string_split(text,' '), x -> x<>'') AS tkc
         FROM documents),
       bi AS (SELECT tkc[i] AS t1, tkc[i+1] AS t2
              FROM t, UNNEST(range(1, len(tkc))) AS r(i)),
       bc AS (SELECT t1, t2, count(*) AS pair_count FROM bi GROUP BY 1, 2),
       un AS (SELECT u AS t, count(*) AS cu
              FROM (SELECT unnest(tkc) AS u FROM t) GROUP BY 1),
       tot AS (SELECT (SELECT sum(pair_count) FROM bc) AS nbi,
                      (SELECT sum(cu) FROM un) AS nuni)
       SELECT t1, t2, pair_count,
              ${ops.R6("(pair_count*1.0/nbi) * (nuni*1.0/u1.cu) * (nuni*1.0/u2.cu)")} AS lift
       FROM bc JOIN un u1 ON t1 = u1.t JOIN un u2 ON t2 = u2.t, tot
       WHERE pair_count >= $MergeMinCount
       ORDER BY pair_count DESC, t1, t2 LIMIT $MergeK"""

  /** Keywords per document and the integer score scale. */
  private val KwK = 3
  private val KwScale = 1000000L

  /** Per-document TF-IDF keyword extraction: the top-[[KwK]] terms
    * by rarity-weighted frequency — the standard corpus-exploration /
    * topic-labelling pass over a training corpus.
    *
    * The score is EXACT INTEGER: score = (tf · N · 10⁶) div df, a
    * monotone transform of tf·(N/df) (df ≤ N keeps the quotient ≥
    * tf·10⁶, so resolution loss from the integer division is ≤ 1 part
    * in 10⁶ per unit tf) with ties broken by term ASC — a total order
    * both engines compute bit-identically, keeping this in the
    * oracle-hash gate where a double idf (log or ratio) would sit in
    * the CLAUDE.md ulp class. Bound: tf·N·10⁶ < 2⁶³ holds through
    * every bench SF (tf ≤ 10³, N ≤ 10⁶ → 10¹⁵); a 10¹⁰-doc corpus
    * would drop the scale to 10³ or rank on the double, where
    * cross-engine exactness is no longer a constraint.
    *
    * Scale shape: tf is one map-side-combined groupBy on (doc,term);
    * df derives from tf (already distinct per pair — no second
    * corpus pass, no countDistinct); N is a broadcast scalar; the
    * per-doc top-3 is a row_number window partitioned by doc_id —
    * millions of partitions, the shape Window parallelizes well
    * (the TopKAgg rule targets FEW-group windows). */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // r13: barrier the tf frame — its two consumers (the df aggregate
    // and the score join) re-executed the whole tokenize+explode+agg
    // subtree (measured: two ~equal 32-task stages per warm run;
    // runtime stage reuse does NOT fire here, the two consumers plan
    // distinct exchanges). Serialized blocks, the gramsCache
    // rationale: corpus-TERM-sized, 2 consumers vs 2 full tokenizes;
    // a production deployment persists tf DupIndex-style instead.
    val tf = docs.select(col("doc_id"), explode(expr(tk)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", expr(s"tf * n_docs * ${KwScale}L div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KwK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  private val q90Sql =
    s"""WITH tf AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x<>'')) AS term
                    FROM documents),
       tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
       dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents),
       sc AS (SELECT doc_id, term, tf, df, tf * n_docs * $KwScale // df AS score
              FROM tfc JOIN dfc USING (term), n),
       rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
              FROM sc)
       SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf,
              CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
       FROM rk WHERE rank <= $KwK ORDER BY doc_id, rank"""

  /** Docs per vocabulary-growth bucket. */
  private val VocabBucket = 1000L

  /** Vocabulary-growth (Heaps-law) curve: cumulative distinct-word
    * count as the corpus grows in doc_id order, per [[VocabBucket]]
    * docs — the "how fast does the vocab still grow" signal that
    * sizes tokenizer vocabularies and flags crawl saturation.
    *
    * The naive form is a running countDistinct — not distributable.
    * The rewrite: a word's FIRST OCCURRENCE (min doc_id per word) is
    * the only row that grows the vocab, so the curve is a running SUM
    * of per-bucket first-occurrence counts. That's one map-side-
    * combined groupBy on word (the q80 wordcount shape), a bucket
    * aggregate, and a window over the BUCKET frame only — n/1000
    * rows, 1000× smaller than the corpus; the corpus itself is never
    * windowed (q72's boundary-bucket argument). All-integer
    * arithmetic end to end. */
  def q93(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val firsts = docs.select(col("doc_id"), explode(expr(s"array_distinct($tk)")).as("w"))
      .groupBy("w").agg(min("doc_id").as("first_doc"))
      .groupBy(expr(s"first_doc div $VocabBucket").as("bucket"))
      .agg(count(lit(1)).as("new_words"))
    val toks = docs
      .groupBy(expr(s"doc_id div $VocabBucket").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(expr(s"size($tk)")).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    toks.join(firsts, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_vocab", sum("new_words").over(w))
      .orderBy("bucket")
  }

  private val q93Sql =
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
         FROM documents),
       fw AS (SELECT w, min(doc_id) AS first_doc
              FROM (SELECT doc_id, unnest(list_distinct(tk)) AS w FROM tk) GROUP BY 1),
       nb AS (SELECT first_doc // $VocabBucket AS bucket, count(*) AS new_words
              FROM fw GROUP BY 1),
       tb AS (SELECT doc_id // $VocabBucket AS bucket, count(*) AS n_docs,
                     sum(len(tk)) AS n_tokens
              FROM tk GROUP BY 1)
       SELECT bucket, n_docs,
              CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(coalesce(new_words, 0) AS BIGINT) AS new_words,
              CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
              CAST(sum(coalesce(new_words, 0)) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
       FROM tb LEFT JOIN nb USING (bucket)
       ORDER BY bucket"""

  /** Deflate parameters for q99 — FIXED so the ratio is a pure
    * function of the bytes: level 6, default strategy, one stream. */
  private[graft] val ZLevel = 6

  /** Compress a byte array with the q99 contract on a CALLER-OWNED
    * (resettable) Deflater; returns the compressed length.
    * Deterministic for fixed input/level, and `reset()` restores the
    * exact initial stream state, so reuse cannot change the result. */
  private[graft] def deflateLenWith(d: java.util.zip.Deflater, bytes: Array[Byte]): Long = {
    d.reset()
    d.setInput(bytes); d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** One-shot form for specs/small callers. */
  private[graft] def deflateLen(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(ZLevel)
    try deflateLenWith(d, bytes) finally d.end()
  }

  /** Compression-ratio quality signal (the Gopher/RefinedWeb
    * heuristic): highly repetitive or templated text deflates far
    * below natural prose, so compressed/raw is a cheap, vocabulary-
    * free repetitiveness score — the byte-level complement of q71's
    * token-ratio filter. Map-only `mapPartitions` (one Deflater per
    * partition batch, no shuffle — at 100 TB this is a single pass);
    * deterministic: fixed level/strategy makes the compressed length
    * a pure function of the bytes. rows-only (no SQL engine exposes
    * deflate); the spec recomputes with the identical JVM call. */
  def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // ONE native Deflater per partition, reset per row — per-doc
        // construction would pay a JNI zlib-state alloc per row;
        // released at task completion (the iterator may not be drained
        // on task failure, so end() can't ride the last element)
        val d = new java.util.zip.Deflater(ZLevel)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          (id, raw.length.toLong, deflateLenWith(d, raw))
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed")
      .select(col("doc_id"), col("n_bytes"), col("n_compressed"),
        ops.r6(col("n_compressed") * lit(1.0) / col("n_bytes")).as("ratio"))
      .orderBy("doc_id")
  }

  /** Per-language log2 token-length HISTOGRAM — the sequence-length
    * distribution report that sets truncation/packing policy (how
    * much of the corpus a 512-token window covers, where the long
    * tail starts). Bucketing is pure integer: bucket = number of
    * binary digits of n_tokens (`length(bin(n))` here, `len(bin(n))`
    * in DuckDB — both render a BIGINT without leading zeros), so
    * bucket b holds n in [2^(b-1), 2^b-1] with no libm log2 anywhere
    * (a power-of-two boundary doc could flip a bucket on a rounded
    * log). Scale shape: one map-side-combined groupBy on (lang,
    * bucket) — ≤ ~64 buckets per language — then windows over the
    * BUCKET frame only; the corpus is never windowed. Shares divide
    * longs exactly once per output row. */
  def q103(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy("lang")
    val cum = Window.partitionBy("lang").orderBy("len_bucket")
    Tables(s, dir, "documents")
      .select(col("lang"), expr(s"size($tk)").cast("long").as("n"))
      .groupBy(col("lang"),
        when(col("n") > 0, length(bin(col("n")))).otherwise(lit(0)).cast("int").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      .withColumn("lo", expr("CASE WHEN len_bucket > 0 THEN shiftleft(CAST(1 AS BIGINT), len_bucket - 1) ELSE CAST(0 AS BIGINT) END"))
      .withColumn("hi", expr("CASE WHEN len_bucket > 0 THEN shiftleft(CAST(1 AS BIGINT), len_bucket) - 1 ELSE CAST(0 AS BIGINT) END"))
      .withColumn("doc_share", ops.r6(col("n_docs") * lit(1.0) / sum("n_docs").over(byLang)))
      .withColumn("tok_share", ops.r6(col("n_tokens") * lit(1.0) / sum("n_tokens").over(byLang)))
      .withColumn("cum_doc_share",
        ops.r6(sum("n_docs").over(cum) * lit(1.0) / sum("n_docs").over(byLang)))
      .select("lang", "len_bucket", "lo", "hi", "n_docs", "n_tokens",
        "doc_share", "tok_share", "cum_doc_share")
      .orderBy("lang", "len_bucket")
  }

  private val q103Sql =
    s"""WITH d AS (SELECT lang, len(list_filter(string_split(text,' '), x -> x<>'')) AS n
         FROM documents),
       b AS (SELECT lang, CASE WHEN n > 0 THEN len(bin(n)) ELSE 0 END AS len_bucket,
                    count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
             FROM d GROUP BY 1, 2)
       SELECT lang, len_bucket,
         CASE WHEN len_bucket > 0 THEN (1::BIGINT << (len_bucket - 1)) ELSE 0::BIGINT END AS lo,
         CASE WHEN len_bucket > 0 THEN (1::BIGINT << len_bucket) - 1 ELSE 0::BIGINT END AS hi,
         n_docs, n_tokens,
         ${ops.R6("n_docs*1.0 / sum(n_docs) OVER (PARTITION BY lang)")} AS doc_share,
         ${ops.R6("n_tokens*1.0 / sum(n_tokens) OVER (PARTITION BY lang)")} AS tok_share,
         ${ops.R6("sum(n_docs) OVER (PARTITION BY lang ORDER BY len_bucket)*1.0 / sum(n_docs) OVER (PARTITION BY lang)")} AS cum_doc_share
       FROM b ORDER BY lang, len_bucket"""

  /** n-gram widths for the diversity spectrum. */
  private[graft] val DivNs = Seq(1, 2, 3, 4)

  /** One flattened array of (n, gram) structs for every n in
    * [[DivNs]] — ONE corpus pass and ONE Generate for all four
    * widths, instead of a union of four scans. Space-joined grams are
    * unambiguous: tokens cannot contain spaces. */
  private val divGramExpr = {
    val gs = DivNs.map { n =>
      s"""CASE WHEN size(tk) >= $n
          THEN transform(sequence(1, size(tk) - ${n - 1}),
               i -> named_struct('n', $n, 'g', concat_ws(' ', slice(tk, i, $n))))
          ELSE array() END"""
    }.mkString(",\n          ")
    s"flatten(array($gs))"
  }

  /** n-gram DIVERSITY spectrum per language: distinct/total gram
    * ratio at widths 1-4 — the corpus-level templating/generated-text
    * signal (natural prose keeps growing new 3- and 4-grams; template
    * expansions and model-generated text collapse the ratio long
    * before the unigram vocabulary saturates). Complements q71
    * (within-doc repetition) and q97 (per-doc novelty): this is the
    * per-LANGUAGE corpus fingerprint.
    *
    * Scale shape: one explode of the fused (n, gram) array (4 widths,
    * one pass), then a (lang, n)-keyed count + two-level
    * countDistinct — the shuffle carries each partition's distinct
    * grams once (the q80 wordcount argument); nothing is windowed,
    * nothing collects. */
  def q104(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("tk", expr(tk))
      .select(col("lang"), explode(expr(divGramExpr)).as("x"))
      .select(col("lang"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy("lang", "n")
      .agg(count(lit(1)).as("total_grams"), countDistinct("g").as("distinct_grams"))
      .select(col("lang"), col("n"), col("total_grams"), col("distinct_grams"),
        ops.r6(col("distinct_grams") * lit(1.0) / col("total_grams")).as("distinct_ratio"))
      .orderBy("lang", "n")

  private val q104Sql =
    s"""WITH t AS (SELECT lang, list_filter(string_split(text,' '), x -> x<>'') AS tk
         FROM documents),
       g AS (SELECT lang, n, array_to_string(list_slice(tk, i, i+n-1), ' ') AS g
             FROM t, UNNEST([${DivNs.mkString(", ")}]) AS nn(n),
                  UNNEST(range(1, len(tk)-n+2)) AS r(i))
       SELECT lang, n, count(*) AS total_grams, count(DISTINCT g) AS distinct_grams,
              ${ops.R6("count(DISTINCT g)*1.0 / count(*)")} AS distinct_ratio
       FROM g GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Per-source DISTRIBUTION-SHIFT report: total-variation distance
    * between each source's unigram distribution and the whole
    * corpus — the "is this crawl the same kind of text" signal that
    * decides whether a new source needs its own mixture weight
    * (q100) or quality re-calibration. TV = ½ Σ_w |p_s(w) − p(w)|.
    *
    * Exactness: the sum runs over INTEGER cross-products —
    * |c_sw·N − c_w·N_s| as decimal(38,0) (DuckDB HUGEINT; a long
    * product overflows at ~10¹³-token corpora) — and words ABSENT
    * from a source contribute N_s·(N − Σ_present c_w) in closed form,
    * so the vocab never needs densifying. One double conversion at
    * the end (decimal→double and HUGEINT→double are both correctly
    * rounded — the q32 probe), one IEEE divide, r6.
    *
    * Scale shape: one wordcount groupBy on (source, word) —
    * localCheckpointed: it feeds three consumers (corpus totals,
    * source totals, the join) and re-executing the corpus explode
    * twice costs more than materializing the vocab-sized frame — then
    * a word-keyed equi-join against the corpus totals (vocab-sized,
    * never corpus-sized) with #sources-row broadcasts. */
  def q106(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val wc = Tables(s, dir, "documents")
      .select(col("source"), explode(expr(tk)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      .localCheckpoint(false)
    val cw = wc.groupBy("w").agg(sum("c_sw").as("c_w"))
    val ns = wc.groupBy("source")
      .agg(sum("c_sw").as("n_s"), count(lit(1)).as("n_words"))
    val tot = ns.agg(sum("n_s").as("n_tot"))
    wc.join(cw, "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .groupBy("source", "n_words", "n_s", "n_tot")
      .agg(
        sum(abs(col("c_sw").cast(dec) * col("n_tot").cast(dec)
          - col("c_w").cast(dec) * col("n_s").cast(dec))).as("term1"),
        sum("c_w").as("covered"))
      .select(col("source"), col("n_words"), col("n_s").as("n_tokens"),
        ops.r6((col("term1")
            + col("n_s").cast(dec) * (col("n_tot") - col("covered")).cast(dec))
            .cast("double")
          / (lit(2.0) * col("n_s") * col("n_tot"))).as("tv_dist"))
      .orderBy("source")
  }

  private val q106Sql =
    s"""WITH w AS (SELECT source, unnest(list_filter(string_split(text,' '), x -> x<>'')) AS w
         FROM documents),
       wc AS (SELECT source, w, count(*) AS c_sw FROM w GROUP BY 1, 2),
       cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM wc GROUP BY 1),
       ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s, count(*) AS n_words
              FROM wc GROUP BY 1),
       t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM ns),
       j AS (SELECT wc.source,
               abs(c_sw::HUGEINT * n_tot - c_w::HUGEINT * n_s) AS dterm, c_w
             FROM wc JOIN cw USING (w) JOIN ns ON wc.source = ns.source, t),
       a AS (SELECT source, sum(dterm) AS term1, CAST(sum(c_w) AS BIGINT) AS covered
             FROM j GROUP BY 1)
       SELECT a.source, n_words, n_s AS n_tokens,
         ${ops.R6("(term1 + n_s::HUGEINT * (n_tot - covered))::DOUBLE / (2.0 * n_s * n_tot)")} AS tv_dist
       FROM a JOIN ns ON a.source = ns.source, t
       ORDER BY a.source"""

  /** Document intake VALIDATION core (shared with the spec, which
    * drives it with synthesized corrupt rows — the live table is
    * clean): one map-only corpus pass to per-flag counts. The
    * control-byte class is the shared [[CtrlClass]] constant (q85's
    * portable Java∩RE2 spelling — no `\s`, whose definition differs
    * cross-engine). `n_dup_id` is the one corpus-level check
    * (count − distinct ids); `n_clean` composes the ROW-LOCAL checks
    * only — id uniqueness is reported, not folded per-row (a per-row
    * dup flag would need an id-keyed shuffle; the summary doesn't). */
  /** Row-local intake flags, shared between batch q108 and the
    * streaming twin ([[graft.streaming.ValidateStream]]) — parity by
    * shared expression tree, the CardStream/AssignStream pattern. */
  private[graft] object intakeFlags {
    val nullId: Column = col("doc_id").isNull
    val nullText: Column = col("text").isNull
    val emptyText: Column = !nullText && col("text") === ""
    val wsOnly: Column = !nullText && col("text") =!= "" && trim(col("text")) === ""
    val charsMismatch: Column = !nullText && col("n_chars").isNotNull &&
      col("n_chars") =!= length(col("text"))
    val ctrl: Column = !nullText && col("text").rlike(CtrlClass)
    val nullLang: Column = col("lang").isNull
    val clean: Column = !nullId && !nullText && !emptyText && !wsOnly &&
      !charsMismatch && !ctrl && !nullLang
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    /** The row-local count columns (everything but the corpus-level
      * distinct-id check, which streams can't incrementalize). */
    def aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_docs"),
      cnt(nullId).as("n_null_id"),
      cnt(nullText).as("n_null_text"),
      cnt(emptyText).as("n_empty_text"),
      cnt(wsOnly).as("n_ws_only"),
      cnt(charsMismatch).as("n_chars_mismatch"),
      cnt(ctrl).as("n_ctrl_chars"),
      cnt(nullLang).as("n_null_lang"),
      cnt(clean).as("n_clean"))
  }

  private[graft] def validateDocs(d: DataFrame): DataFrame = {
    val cols = intakeFlags.aggs :+
      (count(col("doc_id")) - countDistinct(col("doc_id"))).as("n_dup_id")
    d.agg(cols.head, cols.tail: _*)
      .select(col("n_docs"), col("n_null_id"), col("n_dup_id"),
        col("n_null_text"), col("n_empty_text"), col("n_ws_only"),
        col("n_chars_mismatch"), col("n_ctrl_chars"), col("n_null_lang"),
        col("n_clean"))
  }

  /** Document intake VALIDATION report — the schema/content gate a
    * pipeline runs on every new crawl before paying for dedup or
    * quality scoring: null/duplicate ids, null/empty/whitespace-only
    * text, declared-vs-actual length mismatch, embedded control
    * bytes, missing language tags, and the clean count. Map-only
    * pass + one exact-distinct aggregate; at 100 TB this is a single
    * scan. */
  def q108(s: SparkSession, dir: String): DataFrame =
    validateDocs(Tables(s, dir, "documents"))

  private val q108Sql =
    s"""SELECT count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_id,
       CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_id,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
       CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
       CAST(sum(CASE WHEN text <> '' AND trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_ws_only,
       CAST(sum(CASE WHEN text IS NOT NULL AND n_chars IS NOT NULL
                      AND n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatch,
       CAST(sum(CASE WHEN text IS NOT NULL
                      AND regexp_matches(text, '$CtrlClassSql') THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_chars,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
       CAST(sum(CASE WHEN doc_id IS NOT NULL AND text IS NOT NULL AND text <> ''
                      AND NOT (text <> '' AND trim(text) = '')
                      AND NOT (n_chars IS NOT NULL AND n_chars <> len(text))
                      AND NOT regexp_matches(text, '$CtrlClassSql')
                      AND lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       FROM documents"""

  /** CountMin sketch shape: depth (independent hash rows) × width
    * (cells per row). State is D·W cells regardless of vocabulary —
    * the frequency analog of q14's HLL (distinct), q19's GK
    * (quantiles), q76's Misra-Gries (top-k), q77's Bloom
    * (membership), q110's MinHash (set similarity). */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 8192

  /** Probe rows reported by q112. */
  private val CmsTopN = 30

  /** The (d, cell) pair every CMS path derives from a token —
    * xxhash64 seeded by the row index d, reduced mod width. ONE
    * expression string shared by the sketch build and the probe so
    * the two sides cannot drift. */
  private[graft] val cmsCellsExpr =
    s"transform(sequence(0, ${CmsD - 1}), d -> named_struct(" +
      s"'d', d, 'cell', pmod(xxhash64(tok, d), ${CmsW})))"

  /** CMS build: the full corpus token stream reduced to ≤ D·W
    * (d, cell, n) rows by one groupBy — the map-side partial IS the
    * partition-local sketch (a bounded hash table), the shuffle is
    * the sketch merge. Declarative on purpose: no udaf buffer to
    * encode, mergeable and partition-order-invariant because it is
    * a counting aggregate. */
  private[graft] def cmsSketch(tokens: DataFrame): DataFrame =
    tokens
      .select(explode(expr(cmsCellsExpr)).as("dc"))
      .groupBy(col("dc.d").as("d"), col("dc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))

  /** CountMin FREQUENCY-SKETCH calibration: the exact top-[[CmsTopN]]
    * corpus tokens with their CMS estimates and overcounts — the
    * audit that sizes D×W before trusting the sketch at scale.
    * est ≥ exact always (CMS is one-sided); E[overcount] ≈ N/W per
    * hash row, and the min over D rows drives it toward 0.
    *
    * Deployment shape at 100 TB: the corpus is touched ONCE by
    * [[cmsSketch]] (bounded state, mergeable across days/shards —
    * yesterday's sketch adds to today's by summing cells); probes
    * come from a bounded candidate set (here the exact top-N audit
    * frame, whose groupBy is itself vocabulary-bounded like q80's;
    * in a pure-sketch deployment, q76's Misra-Gries candidates).
    * Hash-dependent → rows-only; TextSketchSpec pins the one-sided
    * bound, the overcount envelope, and partition invariance. */
  def q112(s: SparkSession, dir: String): DataFrame = {
    val tokens = Tables(s, dir, "documents")
      .select(explode(expr(tk)).as("tok"))
    val sketch = cmsSketch(tokens)
    val probes = tokens.groupBy("tok").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok").asc).limit(CmsTopN)
    val probeCells = probes
      .select(col("tok"), col("exact_n"), explode(expr(cmsCellsExpr)).as("dc"))
      .select(col("tok"), col("exact_n"), col("dc.d").as("d"), col("dc.cell").as("cell"))
    sketch.join(broadcast(probeCells), Seq("d", "cell"))
      .groupBy("tok", "exact_n")
      .agg(min("n").as("est_n"))
      .withColumn("overcount", col("est_n") - col("exact_n"))
      .orderBy(col("exact_n").desc, col("tok").asc)
  }

  /** LANG-ID CONFUSION MATRIX — q61's evaluation gate (the q143/q144
    * pattern applied to the classifier family): per (actual,
    * predicted) language pair, the doc count and the share of the
    * actual language's docs in integer ppm, plus recall along the
    * diagonal — the table that says WHERE the stopword heuristic
    * fails (not just how often) before anyone trusts its routing.
    *
    * Scale shape: rides q61's map-only scoring into one
    * map-side-combined groupBy (≤ #langs² rows); the share window
    * runs over that tiny frame. All integer. */
  def q152(s: SparkSession, dir: String): DataFrame =
    q61(s, dir)
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_ppm",
        expr("(n_docs * 1000000) div sum(n_docs) OVER (PARTITION BY actual_lang)"))
      .withColumn("is_correct", col("actual_lang") === col("predicted_lang"))
      .orderBy("actual_lang", "predicted_lang")

  private val q152Sql = {
    val pred = PredLangSql
    s"""WITH sc AS (
         SELECT lang AS actual_lang,
                CAST(${duckScore(stopEn)} AS INT) AS s_en,
                CAST(${duckScore(stopEs)} AS INT) AS s_es,
                CAST(${duckScore(stopDe)} AS INT) AS s_de,
                CAST(${duckScore(stopFr)} AS INT) AS s_fr
         FROM (SELECT lang, list_filter(string_split(text,' '), x -> x<>'') AS tk
               FROM documents)),
       p AS (SELECT actual_lang, $pred AS predicted_lang FROM sc),
       m AS (SELECT actual_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
             FROM p GROUP BY 1, 2)
       SELECT actual_lang, predicted_lang, n_docs,
              CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY actual_lang) AS BIGINT)
                AS share_ppm,
              actual_lang = predicted_lang AS is_correct
       FROM m ORDER BY actual_lang, predicted_lang"""
  }

  /** Collocation floor: bigrams below this corpus count are noise. */
  private[graft] val CollMin = 5

  /** COLLOCATION MINING — top bigrams by LIFT, the log-free PMI
    * (PMI = log lift; log is libm-dependent cross-engine, lift is a
    * pure ratio of exact integers, so THIS is the oracle-gateable
    * spelling): lift(w1,w2) = P(w1 w2)/(P(w1)P(w2)) =
    * c₁₂·N²/(M·c₁·c₂) over occurrence counts, with a CollMin count
    * floor. High-lift bigrams are multiword expressions ("new york")
    * — the collocation table a tokenizer/phrase-merge stage consumes.
    *
    * Numerics (the q78 lesson, applied from the start): the top-20
    * cutoff ranks on floor(lift·10⁶+0.5) computed from exact integer
    * operands — numerator and denominator accumulate as decimals
    * (DuckDB HUGEINT), ONE double divide, integer rank key, (w1, w2)
    * tiebreak below it. Scale shape: unigram + bigram counts are two
    * map-side-combined aggs over exploded token streams (bigrams
    * ≈ corpus tokens, the q80 vocab argument); corpus totals ride a
    * 1-row broadcast; the count-floor prunes the candidate frame
    * before the two vocab joins; top-20 via TakeOrdered.
    *
    * Magnitude bound: the numerator n_pair·N·N and denominator
    * M·c1·c2 ride decimal(38,0); with n_pair,c1,c2 ≤ N they stay
    * inside 38 digits while the corpus token count N < ~10^12.6
    * (≈4·10^12 tokens — thousands of times the largest published
    * text corpora). PAST that bound Spark's decimal product silently
    * NULLs the lift (dropping the pair from the top-20) while
    * DuckDB's HUGEINT raises — the q142 asymmetric-overflow class.
    * A deployment at that scale should stage the ratio as
    * (n_pair·N/(m·c1))·(N/c2) doubles and keep the exact-integer
    * rank key only for the final cutoff. */
  def q135(s: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val t = Tables(s, dir, "documents").withColumn("tk", expr(tk))
    // explode the expression directly (q77 codegen lesson) — not the
    // withColumn-computed array column
    // r13: A/B'd a barrier here (uni has two consumers, the w1/w2
    // joins) and REVERTED it — measured +0.2 s over 4 interleaved
    // rounds (old 1.22-1.44 s, checkpointed 1.19-1.67): the saved
    // unigram pass is cheaper than the checkpoint's scheduling job
    // at this size (the q31 measure-don't-assume lesson; q87/q90 won
    // the same trade because their re-executed subtrees are heavier)
    val uni = Tables(s, dir, "documents").select(explode(expr(tk)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = t.agg(
      sum(expr("size(tk)")).as("n"),
      sum(expr("greatest(size(tk) - 1, 0)")).as("m"))
    val big = t.select(explode(expr(
        """CASE WHEN size(tk) >= 2
           THEN transform(sequence(1, size(tk)-1),
                i -> struct(element_at(tk,i) AS w1, element_at(tk,i+1) AS w2))
           ELSE array() END""")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= CollMin)
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .join(broadcast(tot), lit(true), "left")
      .withColumn("lift_u", floor(
        (d(col("n_pair")) * d(col("n")) * d(col("n"))).cast("double")
          / (d(col("m")) * d(col("c1")) * d(col("c2"))).cast("double")
          * 1000000.0 + 0.5).cast("long"))
      .orderBy(col("lift_u").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("n_pair"),
        (col("lift_u") / 1000000.0).as("lift6"))
  }

  private val q135Sql =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
                   FROM documents),
       uni AS (SELECT u AS w, CAST(count(*) AS BIGINT) AS c
               FROM t, UNNEST(tk) AS z(u) GROUP BY 1),
       tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n,
                      CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) AS m FROM t),
       big AS (SELECT tk[i] AS w1, tk[i+1] AS w2, CAST(count(*) AS BIGINT) AS n_pair
               FROM t, UNNEST(range(1, len(tk))) AS r(i)
               GROUP BY 1, 2 HAVING count(*) >= $CollMin),
       sc AS (SELECT w1, w2, n_pair,
                CAST(floor(
                  CAST(n_pair::HUGEINT * n * n AS DOUBLE)
                    / CAST(m::HUGEINT * u1.c * u2.c AS DOUBLE)
                  * 1000000.0 + 0.5) AS BIGINT) AS lift_u
              FROM big JOIN uni u1 ON w1 = u1.w JOIN uni u2 ON w2 = u2.w
              LEFT JOIN tot ON true)
       SELECT w1, w2, n_pair, lift_u/1000000.0 AS lift6
       FROM sc ORDER BY lift_u DESC, w1, w2 LIMIT 20"""

  /** q169 — QUALITY-GATE CALIBRATION LADDER: q146's threshold-sweep
    * pattern applied to q60's quality score, the curve that picks a
    * quality gate for a corpus. Per tenth-wide score band: docs and
    * token volume, plus reverse-cumulative docs/tokens KEPT at a
    * gate set to the band's lower edge and the kept fraction in
    * integer ppm — "moving the gate 0.5→0.6 costs cum(5)−cum(6)
    * docs" read off the table instead of rerunning the q12/q68
    * family per candidate. Banding floors the SAME r4'd double both
    * engines compute (q146's proof), everything after is integer.
    *
    * Scale shape: one q60 scan map-side-combined to a ≤10-row band
    * frame; the windows only ever see those 10 rows. */
  def q169(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("band").desc)
    q60(s, dir)
      .select(col("n_tokens"),
        least(floor(col("quality_score") * 10.0).cast("int"), lit(9)).as("band"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .withColumn("band_lo", col("band") / 10.0)
      .withColumn("cum_docs_ge", sum("n_docs").over(w))
      .withColumn("cum_tokens_ge", sum("n_tokens").over(w))
      .withColumn("kept_ppm",
        expr("cum_docs_ge * 1000000 div (sum(n_docs) OVER ())"))
      .select("band", "band_lo", "n_docs", "n_tokens",
        "cum_docs_ge", "cum_tokens_ge", "kept_ppm")
      .orderBy("band")
  }

  private val q169Sql =
    s"""WITH d AS (SELECT len(tk) AS n_tokens,
                least(CAST(floor(($QualityScoreSql)*10.0) AS INT), 9) AS band
              FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
                    FROM documents)),
       h AS (SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             FROM d GROUP BY 1)
       SELECT band, band/10.0 AS band_lo, n_docs, n_tokens,
         CAST(sum(n_docs) OVER (ORDER BY band DESC) AS BIGINT) AS cum_docs_ge,
         CAST(sum(n_tokens) OVER (ORDER BY band DESC) AS BIGINT) AS cum_tokens_ge,
         CAST((sum(n_docs) OVER (ORDER BY band DESC) * 1000000)
           // (sum(n_docs) OVER ()) AS BIGINT) AS kept_ppm
       FROM h ORDER BY band"""

  /** q174's ingestion-bucket width — q109's 1000-doc rule, spelled
    * into the oracle SQL. */
  private val DriftBucket = 1000L

  /** INGESTION QUALITY CURVE — q109's dup-saturation curve on the
    * quality axis (the "is the crawl getting worse" monitor): per
    * 1000-doc ingestion bucket, doc/token volume, mean quality
    * (q134's re-integerized r4 units — floor(q·10⁴+0.5) longs summed,
    * ONE divide), PII incidence in integer ppm, and the running
    * corpus-to-date mean quality. A crawl whose frontier is
    * degrading shows the per-bucket mean sagging under the
    * cumulative one here, BEFORE the q68/q88 gates silently start
    * dropping most of each day's ingest.
    *
    * Scale shape: two map-only passes (q60 score + PII flags) joined
    * on doc_id, one map-side-combined groupBy to the n/1000-row
    * bucket frame; the cumulatives run over THAT frame via the
    * two-phase range-partitioned core (ops.globalCumsumN, both sums
    * in one pass) — unlike the q123-family's domain-bounded
    * histograms, this frame's cardinality TRACKS corpus size, so a
    * one-task Window.orderBy would eventually be the bottleneck. */
  /** Per-doc (doc_id, n_tokens, q4, is_clean) — the quality+PII
    * assembly SHARED by q174's ingestion curve and Dedup.q178's
    * duplication audit (the effCte discipline: q4 re-integerization
    * and the PII flag spelled ONCE on each engine; the oracle twin
    * is [[docQualityCte]]). */
  private[operators] def docQuality(s: SparkSession, dir: String): DataFrame =
    q60(s, dir).select("doc_id", "n_tokens", "quality_score")
      .join(scrub(Tables(s, dir, "documents").select("doc_id", "text"))
        .select("doc_id", "is_clean"), "doc_id")
      .withColumn("q4", expr("CAST(floor(quality_score*10000.0 + 0.5) AS BIGINT)"))
      .select("doc_id", "n_tokens", "q4", "is_clean")

  /** [[docQuality]]'s oracle twin: CTEs dq_q (doc_id, n_tokens, q4)
    * + dq_p (doc_id, is_clean); dq_* prefixed per the CLAUDE.md
    * composed-CTE rule. */
  private[operators] lazy val docQualityCte =
    s"""dq_t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
                 FROM documents),
       dq_q AS (SELECT doc_id, len(tk) AS n_tokens,
                  CAST(floor(($QualityScoreSql)*10000.0 + 0.5) AS BIGINT) AS q4
                FROM dq_t),
       dq_p AS (SELECT doc_id,
                  len(regexp_extract_all(text, '$EmailRe')) +
                  len(regexp_extract_all(text, '$PhoneRe')) = 0 AS is_clean
                FROM documents)"""

  def q174(s: SparkSession, dir: String): DataFrame = {
    val buckets = docQuality(s, dir)
      .groupBy(expr(s"doc_id div $DriftBucket").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("q4").as("uq"),
        sum(when(col("is_clean"), 0L).otherwise(1L)).as("n_pii"))
    ops.globalCumsumN(buckets,
        Seq((col("n_docs"), "cum_docs", None), (col("uq"), "cum_uq", None)),
        col("bucket"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        ops.r4(col("uq") / (lit(10000.0) * col("n_docs"))).as("mean_quality"),
        expr("(n_pii * 1000000) div n_docs").as("pii_ppm"),
        ops.r4(col("cum_uq") / (lit(10000.0) * col("cum_docs"))).as("cum_mean_quality"))
      .orderBy("bucket")
  }

  private val q174Sql =
    s"""WITH $docQualityCte,
       b AS (SELECT q.doc_id // $DriftBucket AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(q4) AS BIGINT) AS uq,
               CAST(sum(CASE WHEN is_clean THEN 0 ELSE 1 END) AS BIGINT) AS n_pii
             FROM dq_q q JOIN dq_p p ON q.doc_id = p.doc_id GROUP BY 1),
       c AS (SELECT *,
               CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
               CAST(sum(uq) OVER (ORDER BY bucket) AS BIGINT) AS cum_uq
             FROM b)
       SELECT bucket, n_docs, n_tokens,
              ${ops.R4("uq/(10000.0*n_docs)")} AS mean_quality,
              CAST((n_pii * 1000000) // n_docs AS BIGINT) AS pii_ppm,
              ${ops.R4("cum_uq/(10000.0*cum_docs)")} AS cum_mean_quality
       FROM c ORDER BY bucket"""

  /** VOCABULARY DF PROFILE (r9) — the natural-vs-synthetic vocabulary
    * diagnostic behind the lexical family's scale story (SURVEY §4.2
    * r9): the whole vocabulary histogrammed by ⌊log2 df⌋ — token
    * count, occurrence mass (exact integer ppm share), and how many
    * tokens the HybDfMaxPpm cap drops — so "where does the df cap
    * bite on THIS corpus" is a query, not prose. q80 is the top-K
    * head; this is the full distribution the lexical probe's posting
    * volume depends on (a Zipf corpus concentrates
    * occurrence mass in few capped stopwords + a long low-df tail;
    * the salad family piles everything into two buckets).
    *
    * Scale shape: one corpus tokenize → vocab-sized (token, df, occ)
    * agg → ≤64-row log2 histogram; the share window runs over the
    * histogram only (structurally bounded, the q127 class). The
    * log2 bucket is `length(bin(df)) - 1` — exact integer digits,
    * never float log (the q103 idiom; cross-engine float log2 would
    * flip boundary buckets). */
  def q181(s: SparkSession, dir: String): DataFrame = {
    val st = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr(tk)).as("token"))
      .groupBy("token")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("occ"))
    val nd = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    st.join(broadcast(nd), lit(true), "left")
      .groupBy((length(bin(col("df"))) - 1).cast("int").as("lg_df"))
      .agg(count(lit(1)).as("n_tokens"),
        sum("occ").as("n_occ"),
        sum(when(col("df") * lit(1000000L) >
            lit(Similarity.HybDfMaxPpm) * col("n_docs"), 1L).otherwise(0L))
          .as("n_capped"))
      .withColumn("occ_share_ppm",
        expr("CAST((CAST(n_occ AS DECIMAL(38,0)) * 1000000) div (sum(n_occ) OVER ()) AS BIGINT)"))
      .select("lg_df", "n_tokens", "n_occ", "n_capped", "occ_share_ppm")
      .orderBy("lg_df")
  }

  private val q181Sql =
    s"""WITH vp_t AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x<>'')) AS token FROM documents),
       vp_st AS (SELECT token, count(DISTINCT doc_id) AS df, count(*) AS occ FROM vp_t GROUP BY token),
       vp_nd AS (SELECT count(*) AS n_docs FROM documents),
       vp_h AS (SELECT CAST(len(bin(df)) - 1 AS INT) AS lg_df,
                  count(*) AS n_tokens,
                  CAST(sum(occ) AS BIGINT) AS n_occ,
                  CAST(sum(CASE WHEN df * 1000000 > ${Similarity.HybDfMaxPpm} * vp_nd.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
                FROM vp_st, vp_nd GROUP BY 1)
       SELECT lg_df, n_tokens, n_occ, n_capped,
         CAST((n_occ::HUGEINT * 1000000) // (SELECT sum(n_occ) FROM vp_h) AS BIGINT) AS occ_share_ppm
       FROM vp_h ORDER BY lg_df"""

  val qs: Seq[Q] = Seq(
    Q("q60_text_quality", q60, Some(q60Sql)),
    Q("q61_lang_id", q61, Some(q61Sql)),
    Q("q62_token_stats", q62, Some(q62Sql)),
    Q("q63_fingerprint", q63, Some(q63Sql)),
    Q("q64_pii_scrub", q64, Some(q64Sql)),
    Q("q71_repetition", q71, Some(q71Sql)),
    Q("q78_bm25", q78, Some(q78Sql)),
    Q("q79_corpus_card", q79, Some(q79Sql)),
    Q("q80_vocab", q80, Some(q80Sql)),
    Q("q85_normalize_text", q85, Some(q85Sql)),
    Q("q87_merge_pairs", q87, Some(q87Sql)),
    Q("q90_keywords", q90, Some(q90Sql)),
    Q("q93_vocab_growth", q93, Some(q93Sql)),
    Q("q99_compression_ratio", q99, None),
    Q("q103_length_histogram", q103, Some(q103Sql)),
    Q("q104_ngram_diversity", q104, Some(q104Sql)),
    Q("q106_source_shift", q106, Some(q106Sql)),
    Q("q108_intake_validate", q108, Some(q108Sql)),
    Q("q112_freq_sketch", q112, None),
    Q("q135_collocations", q135, Some(q135Sql)),
    Q("q152_langid_confusion", q152, Some(q152Sql)),
    Q("q169_quality_ladder", q169, Some(q169Sql)),
    Q("q174_quality_curve", q174, Some(q174Sql)),
    Q("q181_vocab_profile", q181, Some(q181Sql)))
}
