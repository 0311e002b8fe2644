package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Portable.{sql => P}

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting (SURVEY §2.2 rows
  * 28–31). All four are single-pass narrow projections — at 100 TB they
  * are embarrassingly parallel map work with no shuffle; only the
  * final (tiny) aggregates would move data.
  *
  * Every scoring rule is arithmetic portable to DuckDB (length/replace
  * occurrence counting, IEEE division), so all four carry exact SQL
  * oracles.
  */
object TextFunctions {

  /** Marker stopwords per language for the n-gram-ish heuristic. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und"),
    "en" -> Seq("the", "and"),
    "es" -> Seq("el", "la"),
    "fr" -> Seq("le", "et"))

  private def padded(c: Column): Column = concat(lit(" "), lower(c), lit(" "))

  private def score(c: Column, words: Seq[String]): Column =
    words.map(w => Portable.occurrences(padded(c), s" $w "))
      .reduce(_ + _)

  private def sqlScore(expr: String, words: Seq[String]): String =
    words.map(w => P.occurrences(expr, s" $w ")).mkString(" + ")

  /** §2.2 row 28 — language ID: occurrence-count scores per language,
    * argmax with deterministic first-wins tie-break, compared against
    * the labeled `lang` column.
    */
  val langId: QueryDef = {
    val langs = markers.map(_._1)
    QueryDef(
      "t_langid",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val scored = markers.foldLeft(d) { case (df, (lang, ws)) =>
          df.withColumn(s"s_$lang", score(col("text"), ws))
        }
        val pred = markers.init.foldRight(lit(markers.last._1): Column) {
          case ((lang, _), rest) =>
            val isMax = langs.filter(_ != lang)
              .map(o => col(s"s_$lang") >= col(s"s_$o"))
              .reduce(_ && _)
            when(isMax, lit(lang)).otherwise(rest)
        }
        scored
          .withColumn("pred_lang", pred)
          .withColumn("is_correct", col("pred_lang") === col("lang"))
          .select("doc_id", "s_de", "s_en", "s_es", "s_fr", "pred_lang",
            "lang", "is_correct")
      },
      Some {
        val p = "(' ' || lower(text) || ' ')"
        val scores = markers
          .map { case (l, ws) => s"${sqlScore(p, ws)} AS s_$l" }
          .mkString(", ")
        val caseExpr = markers.init.map { case (l, _) =>
          val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }.mkString(" ")
        s"""WITH scored AS (SELECT doc_id, lang, $scores FROM documents),
            p AS (SELECT *, CASE $caseExpr ELSE '${markers.last._1}' END AS pred_lang FROM scored)
            SELECT doc_id, s_de, s_en, s_es, s_fr, pred_lang, lang,
                   (pred_lang = lang) AS is_correct FROM p"""
      })
  }

  /** Language-ID EVALUATION — per-class precision / recall / F1 of
    * the heuristic detector against the gold `lang` column, plus the
    * class confusion counts: the eval-tier row for `t_langid` (the
    * pattern every classifier in the engine gets: an operator AND its
    * scorecard). All ratios ×1000 in exact integers; F1 folds to
    * `2·tp·1000 div (2·tp + fp + fn)` so no intermediate ratio is
    * ever a float.
    *
    * Scale shape: the detector is per-doc map work; the eval is one
    * (gold, pred) count aggregate (≤ langs² cells) folded per class.
    */
  val langIdEval: QueryDef = QueryDef(
    "t_langid_eval",
    (s, dir) => {
      val conf = langId.fn(s, dir)
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val tp = conf.where(col("lang") === col("pred_lang"))
        .select(col("lang"), col("c").as("tp"))
      val gold = conf.groupBy("lang").agg(sum(col("c")).as("n_gold"))
      val pred = conf.groupBy("pred_lang").agg(sum(col("c")).as("n_pred"))
        .withColumnRenamed("pred_lang", "lang")
      gold.join(pred, Seq("lang"), "left").join(tp, Seq("lang"), "left")
        .select(col("lang"), col("n_gold"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision_x1000",
          expr("case when n_pred > 0 then (tp * 1000) div n_pred else 0 end"))
        .withColumn("recall_x1000", expr("(tp * 1000) div n_gold"))
        .withColumn("f1_x1000",
          expr("case when n_pred + n_gold > 0 then (2 * tp * 1000) div (n_pred + n_gold) else 0 end"))
    },
    Some {
      val p = "(' ' || lower(text) || ' ')"
      val langs = markers.map(_._1)
      val scores = markers
        .map { case (l, ws) => s"${sqlScore(p, ws)} AS s_$l" }
        .mkString(", ")
      val caseExpr = markers.init.map { case (l, _) =>
        val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (SELECT doc_id, lang, $scores FROM documents),
          pr AS (SELECT lang, CASE $caseExpr ELSE '${markers.last._1}' END AS pred_lang
            FROM scored),
          conf AS (SELECT lang, pred_lang, COUNT(*) AS c FROM pr GROUP BY 1, 2),
          tp AS (SELECT lang, CAST(c AS BIGINT) AS tp FROM conf WHERE lang = pred_lang),
          g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_gold FROM conf GROUP BY 1),
          pd AS (SELECT pred_lang AS lang, CAST(SUM(c) AS BIGINT) AS n_pred
            FROM conf GROUP BY 1),
          j AS (SELECT g.lang, g.n_gold, COALESCE(pd.n_pred, 0) AS n_pred,
              COALESCE(tp.tp, 0) AS tp
            FROM g LEFT JOIN pd USING (lang) LEFT JOIN tp USING (lang))
          SELECT lang, n_gold, n_pred, tp,
            CASE WHEN n_pred > 0 THEN (tp * 1000) // n_pred ELSE 0 END AS precision_x1000,
            (tp * 1000) // n_gold AS recall_x1000,
            CASE WHEN n_pred + n_gold > 0 THEN (2 * tp * 1000) // (n_pred + n_gold)
              ELSE 0 END AS f1_x1000
          FROM j"""
    })

  /** §2.2 row 29 — quality scoring: length, punctuation density,
    * stopword ratio, mean token length → linear score. All-IEEE
    * arithmetic on exact integers, hence engine-portable.
    */
  val quality: QueryDef = QueryDef(
    "t_quality",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val nChars = length(col("text"))
      val nTokens = (nChars - length(replace(col("text"), lit(" "), lit("")))) + 1
      val nStop = score(col("text"), Seq("the", "a", "and", "of"))
      d.select(
        col("doc_id"),
        nChars.as("n_chars"),
        nTokens.as("n_tokens"),
        (nStop.cast("double") / nTokens).as("stop_ratio"),
        ((nChars - (nTokens - 1)).cast("double") / nTokens).as("avg_token_len"))
        .withColumn("quality_score",
          col("stop_ratio") * 0.5 +
            when(col("n_tokens") >= 20 && col("n_tokens") <= 200, 0.3).otherwise(0.0) +
            when(col("avg_token_len") >= 3.0 && col("avg_token_len") <= 8.0, 0.2)
              .otherwise(0.0))
    },
    Some {
      val p = "(' ' || lower(text) || ' ')"
      val stop = sqlScore(p, Seq("the", "a", "and", "of"))
      s"""WITH b AS (SELECT doc_id, LENGTH(text) AS n_chars,
              LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
              $stop AS n_stop
            FROM documents),
          f AS (SELECT doc_id, n_chars, n_tokens,
              CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
              CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len
            FROM b)
          SELECT *, stop_ratio * 0.5
             + CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 0.3 ELSE 0.0 END
             + CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 8.0 THEN 0.2 ELSE 0.0 END
             AS quality_score
          FROM f"""
    })

  /** LM-style quality filtering — the CCNet shape (Wenzek et al.
    * 2020: score documents under a language model trained on trusted
    * text; high perplexity ⇒ out-of-domain/noise) re-expressed
    * integer-exact so both engines score identically: the "model" is
    * the corpus's own unigram table, a token's SURPRISE is the
    * fixed-point inverse frequency (T·1000) DIV count — the monotone
    * core of −log p without the non-bit-portable log — and a doc's
    * score is its mean token surprise (integral DIV). Docs whose score
    * exceeds 1.5× the corpus-wide mean surprise are flagged, the
    * high-perplexity tail a CCNet pipeline buckets away.
    *
    * Scale shape: one token explode + one vocabulary-sized count
    * shuffle (map-side combined), the per-token surprise lookup is a
    * shuffle-hash join on term (vocabulary never broadcast,
    * AQE-skew-splittable — stopwords ARE hot keys), one per-doc
    * partial-aggregated sum, corpus scalars as broadcast 1-row
    * frames. Integer bounds: surprise ≤ T·1000, Σ over a doc ≤
    * n·T·1000 ≤ 2^63 at any realistic shard (documented like the BM25
    * precondition). The CORPUS-mean numerator Σ_t(sur_t·cnt_t) has a
    * weaker, vocab-weighted bound — each term contributes ≤ T·1000
    * (sur·cnt = ((T·1000) DIV cnt)·cnt ≤ T·1000), so the sum is ≤
    * V·T·1000 which can exceed 2^63 on shards a per-doc sum survives —
    * so that one aggregate runs in decimal(38,0), matching DuckDB's
    * HUGEINT accumulation (≤10^38 covers V·T·1000 for any physical
    * corpus; `DIV` on decimal is Spark's exact IntegralDivide).
    */
  /** (per-doc (doc_id, n_tokens, ssum), broadcast 1-row corpus-mean) —
    * the shared surprise computation of [[qualityLm]] and
    * [[qualityBuckets]]. See [[qualityLm]] for the arithmetic.
    */
  private def docSurprise(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val tk = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("term"))
    val counts = tk.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = broadcast(counts.agg(sum(col("cnt")).cast("long").as("t")))
    val sur = counts.crossJoin(tot)
      .select(col("term"), expr("(t * 1000) DIV cnt").as("sur"), col("cnt"), col("t"))
    val cm = broadcast(sur
      .agg(sum((col("sur") * col("cnt")).cast("decimal(38,0)")).as("sc"),
        max(col("t")).as("mt"))
      .select(expr("sc DIV mt").as("cm")))
    val perDoc = tk.join(sur.select("term", "sur"), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("sur")).cast("long").as("ssum"))
    (perDoc, cm)
  }

  val qualityLm: QueryDef = QueryDef(
    "t_quality_lm",
    (s, dir) => {
      val (perDoc, cm) = docSurprise(s, dir)
      perDoc.crossJoin(cm)
        .select(col("doc_id"), col("n_tokens"),
          expr("ssum DIV n_tokens").as("surprise"),
          (expr("ssum DIV n_tokens") * 2 > col("cm") * 3).as("is_flagged"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
           FROM documents),
         c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM c),
         sur AS (SELECT term, (tot.t * 1000) // cnt AS sur, cnt FROM c, tot),
         cm AS (SELECT CAST(SUM(sur * cnt) // (SELECT t FROM tot) AS BIGINT) AS cm
           FROM sur),
         per AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(s.sur) AS BIGINT) AS ssum
           FROM tk JOIN sur s USING (term) GROUP BY 1)
         SELECT doc_id, n_tokens, ssum // n_tokens AS surprise,
           (ssum // n_tokens) * 2 > (SELECT cm FROM cm) * 3 AS is_flagged
         FROM per"""))

  /** CCNet's second move after scoring: bucket the corpus into
    * head / middle / tail by PERPLEXITY QUARTILES (Wenzek et al. 2020
    * — downstream pipelines then sample per bucket instead of hard
    * filtering). Boundaries are the exact interpolated Q1/Q3 of the
    * per-doc surprise (quartile fractions 0.25/0.75 are binary-exact,
    * and `percentile` ≡ DuckDB `quantile_cont` bit-for-bit — the
    * `q_percentiles` parity precedent); head = most fluent quarter.
    * One extra tiny aggregate over [[docSurprise]]'s per-doc frame,
    * broadcast back — no new corpus pass.
    */
  val qualityBuckets: QueryDef = QueryDef(
    "t_quality_buckets",
    (s, dir) => {
      val (perDoc, _) = docSurprise(s, dir)
      val scored = perDoc
        .select(col("doc_id"), col("n_tokens"),
          expr("ssum DIV n_tokens").as("surprise"))
      val qs = broadcast(scored.agg(
        expr("percentile(surprise, 0.25D)").as("q1"),
        expr("percentile(surprise, 0.75D)").as("q3")))
      scored.crossJoin(qs)
        .select(col("doc_id"), col("n_tokens"), col("surprise"),
          when(col("surprise").cast("double") <= col("q1"), "head")
            .when(col("surprise").cast("double") > col("q3"), "tail")
            .otherwise("middle").as("bucket"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
           FROM documents),
         c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM c),
         sur AS (SELECT term, (tot.t * 1000) // cnt AS sur FROM c, tot),
         per AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(s.sur) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS surprise
           FROM tk JOIN sur s USING (term) GROUP BY 1),
         qs AS (SELECT quantile_cont(CAST(surprise AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(surprise AS DOUBLE), 0.75) AS q3 FROM per)
         SELECT doc_id, n_tokens, surprise,
           CASE WHEN CAST(surprise AS DOUBLE) <= (SELECT q1 FROM qs) THEN 'head'
                WHEN CAST(surprise AS DOUBLE) > (SELECT q3 FROM qs) THEN 'tail'
                ELSE 'middle' END AS bucket
         FROM per"""))

  /** §2.2 row 30 — token counting: exact whitespace tokens + a
    * chars/4 BPE-ish token estimate.
    */
  val tokens: QueryDef = QueryDef(
    "t_tokens",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val nChars = length(col("text"))
      val nTokens = (nChars - length(replace(col("text"), lit(" "), lit("")))) + 1
      d.select(
        col("doc_id"),
        nTokens.as("n_ws_tokens"),
        ceil(nChars / 4.0).cast("long").as("n_bpe_est"))
    },
    Some("""SELECT doc_id,
            LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_ws_tokens,
            CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_bpe_est
            FROM documents"""))

  /** §2.2 row 31 — content fingerprint of whitespace/case-normalized
    * text (md5, engine-portable). The rolling-hash variant used for
    * shingling lives in [[graft.operators.Dedup]].
    */
  val fingerprint: QueryDef = QueryDef(
    "t_fingerprint",
    (s, dir) => Tables.load(s, dir, "documents").select(
      col("doc_id"),
      md5(replace(lower(col("text")), lit(" "), lit(""))).as("fp")),
    Some("SELECT doc_id, md5(REPLACE(LOWER(text), ' ', '')) AS fp FROM documents"))

  /** Deterministic content-hash sampling (~1/16 of documents): keep a
    * row iff the first hex digit of md5(text) is '0'. The standard
    * reproducible-sampling trick for training-data pipelines —
    * stable across engines, runs, and partitionings, unlike RNG-based
    * `sample()`.
    */
  val hashSample: QueryDef = QueryDef(
    "t_hash_sample",
    (s, dir) => Tables.load(s, dir, "documents")
      .where(substring(md5(col("text")), 1, 1) === "0")
      .select("doc_id", "lang", "n_chars"),
    Some("""SELECT doc_id, lang, n_chars FROM documents
            WHERE SUBSTR(md5(text), 1, 1) = '0'"""))

  /** Deterministic stratified sampling: per language, the 3 documents
    * with smallest md5 priority — a reproducible per-stratum sample
    * (hash-priority sampling), one shuffle on the stratum key.
    */
  val stratifiedSample: QueryDef = QueryDef(
    "t_stratified_sample",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
      Tables.load(s, dir, "documents")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select("lang", "doc_id", "rk")
    },
    Some("""SELECT lang, doc_id, rk FROM (
              SELECT lang, doc_id,
                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
              FROM documents) t
            WHERE rk <= 3"""))

  /** Text normalization for dedup preprocessing: lowercase, strip
    * non-alphanumerics, collapse whitespace — the standard first pass
    * before exact dedup, catching case/punctuation/spacing variants
    * the raw-text fingerprint misses. Output carries the normalized
    * fingerprint so the hash check covers the full normalized string.
    * (DuckDB regexp_replace is single-occurrence by default — the
    * oracle passes the 'g' flag to match Spark's replace-all.)
    */
  val normalize: QueryDef = QueryDef(
    "t_normalize",
    (s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(norm).as("norm_fp"),
          length(norm).cast("long").as("n_chars_norm"))
    },
    Some("""SELECT doc_id,
            md5(TRIM(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp,
            CAST(LENGTH(TRIM(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
            FROM documents"""))

  /** Benchmark-contamination detection: corpus documents sharing any
    * word 5-gram with a designated eval set (here doc_id < 10) —
    * the decontamination pass every training-data pipeline runs
    * before training. The eval set's gram index is tiny and
    * broadcast; the corpus streams through one explode + map-side
    * join, so at 100 TB this is a broadcast semi-join with no corpus
    * shuffle (only the per-doc hit counts aggregate).
    */
  val contamination: QueryDef = QueryDef(
    "t_contamination",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          explode(graft.functions.Native.wordNGramHashes(col("text"), 5)).as("gram"))
      val benchGrams = broadcast(
        grams(d.where(col("doc_id") < 10)).select("gram").distinct())
      grams(d.where(col("doc_id") >= 10))
        .join(benchGrams, "gram")
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("n_shared_grams"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokens} AS tk FROM documents),
         g AS (SELECT doc_id, ${Portable.textSql.grams(5)} AS grams FROM tk),
         ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         bench AS (SELECT DISTINCT gram FROM ex WHERE doc_id < 10)
         SELECT e.doc_id, COUNT(DISTINCT e.gram) AS n_shared_grams
         FROM ex e JOIN bench b ON e.gram = b.gram
         WHERE e.doc_id >= 10 GROUP BY e.doc_id"""))

  /** BLOOM-accelerated decontamination — `t_contamination` re-shaped
    * for 100 TB: the benchmark's distinct 5-gram hashes fold into ONE
    * broadcast bloom filter ([[graft.functions.BloomAgg]], 2^17 bits —
    * kilobytes regardless of corpus size), every corpus gram probes it
    * map-side, and only might-contain survivors reach the exact
    * verify join. The bloom has NO false negatives and the exact join
    * removes its false positives, so the output is IDENTICAL to the
    * unfiltered exact pipeline — which is exactly what the oracle
    * asserts (it runs the plain exact SQL). At scale this turns a
    * corpus×benchmark shuffle into a broadcast probe + a
    * survivors-only join, the standard bloom semi-join reduction.
    */
  val contaminationBloom: QueryDef = QueryDef(
    "t_contamination_bloom",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          explode(graft.functions.Native.wordNGramHashes(col("text"), 5)).as("gram"))
      val bench = grams(d.where(col("doc_id") < 10)).select("gram").distinct()
      val bloom = broadcast(bench.agg(
        graft.functions.Bloom.bloomAgg(col("gram"), 1 << 17, 5).as("bf")))
      grams(d.where(col("doc_id") >= 10))
        .crossJoin(bloom)
        .where(graft.functions.Bloom.bloomContains(col("bf"), col("gram")))
        .select("doc_id", "gram")
        .join(broadcast(bench), Seq("gram"))
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("n_shared_grams"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokens} AS tk FROM documents),
         g AS (SELECT doc_id, ${Portable.textSql.grams(5)} AS grams FROM tk),
         ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         bench AS (SELECT DISTINCT gram FROM ex WHERE doc_id < 10)
         SELECT e.doc_id, COUNT(DISTINCT e.gram) AS n_shared_grams
         FROM ex e JOIN bench b ON e.gram = b.gram
         WHERE e.doc_id >= 10 GROUP BY e.doc_id"""))

  /** N-GRAM NOVELTY / memorization audit — the graded form of
    * decontamination: for every held-out document (doc_id % 10 == 0),
    * the fraction of its distinct 3-gram hashes NOT present anywhere
    * in the training split (% 10 != 0), ×1000. Decontamination asks
    * "does test leak into train" pair-by-benchmark; novelty asks "how
    * much of this document is literally reconstructible from the
    * training corpus" — the memorization-risk metric evaluated before
    * trusting held-out loss (a low-novelty validation set measures
    * recall, not generalization).
    *
    * Scale shape: one distinct-gram shuffle per split keyed on the
    * gram hash (bucketable), one left join on the same key, one
    * per-doc aggregate. Never a doc×doc comparison; the train side
    * can swap in the `t_contamination_bloom` broadcast-bloom probe
    * unchanged when the training gram set outgrows a shuffle.
    */
  val noveltyNgram: QueryDef = QueryDef(
    "t_novelty",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          explode(graft.functions.Native.wordNGramHashes(col("text"), 3)).as("gram"))
      val train = grams(d.where(col("doc_id") % 10 =!= 0))
        .select("gram").distinct().withColumn("seen", lit(1L))
      grams(d.where(col("doc_id") % 10 === 0))
        .join(train, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_x1000", expr("(n_novel * 1000) div n_grams"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokens} AS tk FROM documents),
         g AS (SELECT doc_id, ${Portable.textSql.grams(3)} AS grams FROM tk),
         ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         train AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 10 <> 0),
         test AS (SELECT doc_id, gram FROM ex WHERE doc_id % 10 = 0)
         SELECT t.doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           (CAST(SUM(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000)
             // COUNT(*) AS novelty_x1000
         FROM test t LEFT JOIN train tr ON t.gram = tr.gram
         GROUP BY 1"""))

  /** EXACT-SUBSTRING decontamination audit — the verbatim complement
    * of the gram-based checks (rows 43/43b catch shared n-grams; this
    * catches benchmark passages copied character-for-character,
    * whitespace and all — the strictest leak signal): each benchmark
    * doc (doc_id < 10) contributes one 50-char probe snippet, and the
    * audit counts corpus docs (doc_id ≥ 10) containing it verbatim.
    * Snippets shorter than 50 chars are dropped in BOTH engines so the
    * empty-string-matches-everything degenerate can't fire.
    *
    * Scale shape: B snippets ride ONE broadcast; the corpus is scanned
    * once with all B `contains` probes fused in the same codegen stage
    * (at larger B, swap in an Aho–Corasick native expression — same
    * plan shape). Never a corpus shuffle.
    */
  val substringDecontamination: QueryDef = QueryDef(
    "t_decontamination_substring",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val snippets = broadcast(d.where(col("doc_id") < 10)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 20, 50).as("snippet"))
        .where(length(col("snippet")) === 50))
      val matched = d.where(col("doc_id") >= 10).select(col("text"))
        .crossJoin(snippets)
        .where(col("text").contains(col("snippet")))
        .groupBy("bench_id")
        .agg(count(lit(1)).as("n"))
      // zero-match snippets still ship (the q_data_quality convention:
      // the artifact proves the check RAN for every probe)
      snippets.select("bench_id").join(matched, Seq("bench_id"), "left")
        .select(col("bench_id"),
          coalesce(col("n"), lit(0L)).as("n_matching_docs"))
    },
    Some("""WITH sn AS (SELECT doc_id AS bench_id, substr(text, 20, 50) AS snippet
           FROM documents WHERE doc_id < 10 AND length(substr(text, 20, 50)) = 50),
         m AS (SELECT sn.bench_id, COUNT(*) AS n
           FROM documents d JOIN sn ON position(sn.snippet IN d.text) > 0
           WHERE d.doc_id >= 10 GROUP BY 1)
         SELECT sn.bench_id, COALESCE(m.n, 0) AS n_matching_docs
         FROM sn LEFT JOIN m USING (bench_id)"""))

  /** Deterministic WEIGHTED Bernoulli sampling: P(keep) ∝ n_chars —
    * the importance-sampling primitive (upweight long documents, or
    * any per-row weight) with hash-derived "randomness", so the sample
    * is reproducible across engines, runs, and partitionings. Keep a
    * row iff h60(text)/2^60 < w/max(w): h/2^60 divides by a power of
    * two (exact) and both engines evaluate the same IEEE quotient on
    * the right, so the comparison is bit-deterministic. One narrow
    * pass + a one-row broadcast for the weight normalizer.
    */
  val weightedSample: QueryDef = QueryDef(
    "t_weighted_sample",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val mx = broadcast(d.agg(max(col("n_chars")).as("mx")))
      val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
      d.crossJoin(mx)
        .where(h.cast("double") / 1152921504606846976.0 <
          col("n_chars").cast("double") / col("mx").cast("double"))
        .select("doc_id", "lang", "n_chars")
    },
    Some(s"""SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(${Portable.textSql.h60("text")} AS DOUBLE) / 1152921504606846976.0 <
           CAST(n_chars AS DOUBLE) /
             CAST((SELECT MAX(n_chars) FROM documents) AS DOUBLE)"""))

  /** The END-TO-END preprocessing pipeline as ONE declarative plan —
    * what a reference user actually runs nightly: normalize → quality
    * gate → exact dedup on the normalized fingerprint (keep the
    * earliest copy) → per-language corpus statistics. Catalyst fuses
    * normalize+quality+fingerprint into a single codegen'd map stage;
    * the only shuffles are the dedup's 16-byte-key aggregate and the
    * final tiny per-language rollup — the whole pipeline touches the
    * corpus exactly once at any scale.
    */
  val pipelineE2e: QueryDef = QueryDef(
    "t_pipeline_e2e",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val nChars = length(col("text"))
      val nTokens = (nChars - length(replace(col("text"), lit(" "), lit("")))) + 1
      val staged = d.select(col("doc_id"), col("lang"), md5(norm).as("norm_fp"),
          nTokens.as("n_tokens"))
        .where(col("n_tokens").between(10, 500))
      val deduped = staged.groupBy("norm_fp")
        .agg(min(col("doc_id")).as("doc_id"),
          // min, not first: copies of the same normalized text can
          // differ in raw token count / label, and first() is
          // partition-order-dependent
          min(col("lang")).as("lang"), min(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_copies"))
      deduped.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          sum(col("n_copies") - 1).cast("long").as("n_dups_removed"))
    },
    Some("""WITH staged AS (
           SELECT doc_id, lang,
             md5(TRIM(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
           FROM documents
           WHERE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 BETWEEN 10 AND 500),
         deduped AS (
           SELECT norm_fp, MIN(doc_id) AS doc_id,
             MIN(lang) AS lang, MIN(n_tokens) AS n_tokens,
             COUNT(*) AS n_copies
           FROM staged GROUP BY norm_fp)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_removed
         FROM deduped GROUP BY lang"""))

  /** Corpus vocabulary / heavy hitters — the wordcount: top-20 most
    * frequent lowercase tokens. One explode + one map-side-combined
    * hash aggregate + TakeOrderedAndProject: the shuffle carries
    * (token, partial count) pairs, never documents, and the top-k
    * needs no global sort. At 100 TB the aggregate state is the
    * vocabulary, not the corpus.
    */
  val wordCount: QueryDef = QueryDef(
    "t_wordcount",
    (s, dir) => Tables.load(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(20),
    Some("""SELECT w, COUNT(*) AS n FROM (
              SELECT unnest(list_filter(string_split(lower(text), ' '),
                x -> x <> '')) AS w
              FROM documents) t
            GROUP BY w ORDER BY n DESC, w LIMIT 20"""))

  /** Collocation mining by LIFT: bigrams scoring highest on
    * P(ab)/(P(a)·P(b)), the portable core of PMI (the log is monotone,
    * so ranking by the raw ratio avoids engine-specific transcendental
    * rounding; the ratio itself is one IEEE division of exact integer
    * counts). Tokens project into an array column FIRST so the bigram
    * lambda references a bound attribute — an inline split would
    * re-evaluate per element (the lambda-CSE trap). Three aggregates
    * (unigrams, bigrams, total) + two joins on the word keys.
    */
  val collocations: QueryDef = QueryDef(
    "t_collocations",
    (s, dir) => {
      val tk = Tables.load(s, dir, "documents")
        .select(expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
      val uni = tk.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val totalDf = broadcast(uni.agg(sum(col("c")).cast("long").as("total")))
      val bi = tk.select(explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> " +
          "concat(element_at(tk, i), ' ', element_at(tk, i + 1)))")).as("ab"))
        .groupBy("ab").agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 5)
      bi.withColumn("a", substring_index(col("ab"), " ", 1))
        .withColumn("b", substring_index(col("ab"), " ", -1))
        .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
        .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
        .crossJoin(totalDf)
        .select(col("ab"), col("c_ab"),
          ((col("c_ab") * col("total")).cast("double") /
            (col("c_a") * col("c_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("ab")).limit(15)
    },
    Some("""WITH tk AS (SELECT list_filter(string_split(lower(text), ' '),
              x -> x <> '') AS tk FROM documents),
            uni AS (SELECT w, COUNT(*) AS c FROM
              (SELECT unnest(tk) AS w FROM tk) u GROUP BY w),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM uni),
            bi AS (SELECT ab, COUNT(*) AS c_ab FROM
              (SELECT unnest(list_transform(range(1, len(tk)),
                 i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)])) AS ab
               FROM tk) b
              GROUP BY ab HAVING COUNT(*) >= 5)
            SELECT ab, c_ab,
              CAST(c_ab * total AS DOUBLE) / CAST(ua.c * ub.c AS DOUBLE) AS lift
            FROM bi, tot,
              uni ua, uni ub
            WHERE ua.w = string_split(ab, ' ')[1]
              AND ub.w = string_split(ab, ' ')[2]
            ORDER BY lift DESC, ab LIMIT 15"""))

  /** Repetition metrics (the Gopher-rule family): per document, the
    * fraction of tokens covered by the single most frequent word, the
    * most frequent bigram's share of all bigrams, and the share of
    * 5-gram occurrences belonging to 5-grams repeated WITHIN the
    * document — the three signals used to drop template/spam pages
    * before training. Three explode + two-level aggregates, each
    * keyed on (doc_id, gram): the shuffle carries per-doc gram count
    * partials, never documents, and each doc's grams colocate so the
    * second-level max/sum is partition-local after one shuffle.
    * Thresholds follow the published Gopher cuts (0.2 / 0.1 / 0.3);
    * all fractions are single IEEE divisions of exact counts.
    */
  /** Repetition-metric core over (doc_id, text) rows — see
    * [[repetition]] for semantics, thresholds, and scale notes.
    *
    * ZERO-shuffle: the six per-doc gram scalars come from ONE compiled
    * pass per document ([[Native.repetitionStats]] — gram counts live
    * in task-local maps exactly as long as one document), so the whole
    * query is a narrow projection: no explode, no (doc_id, gram)
    * exchange, nothing for AQE to plan. The tagged-explode formulation
    * it replaced ([[repetitionMetricsExploded]], kept as the
    * equivalence reference) needed two exchanges; the naive
    * per-gram-size one needed three corpus scans, six exchanges and
    * two joins.
    */
  def repetitionMetrics(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        graft.functions.Native.repetitionStats(lower(col("text"))).as("m"))
      .select(col("doc_id"), col("m.*"))
      // docs too short for a bigram/5-gram drop, matching the oracle's
      // inner joins
      .where(col("n_bigrams") > 0 && col("n_5grams") > 0)
      .select(col("doc_id"), col("n_tokens"),
        (col("top_word_c").cast("double") / col("n_tokens")).as("top_word_frac"),
        (col("top_bigram_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup5_c").cast("double") / col("n_5grams")).as("dup_5gram_frac"))
      .withColumn("is_repetitive",
        col("top_word_frac") > 0.2 || col("top_bigram_frac") > 0.1 ||
          col("dup_5gram_frac") > 0.3)

  /** The tagged-explode formulation (one corpus scan, one
    * (doc_id, n, gram) count, one per-doc conditional aggregate) —
    * superseded by the native single-pass [[repetitionMetrics]] but
    * kept as the distributed reference it is equivalence-tested
    * against in PipelineSpec.
    */
  private[graft] def repetitionMetricsExploded(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tk = docs.select(col("doc_id"),
      expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
    def tagged(n: Int) =
      if (n == 1) s"transform(tk, x -> named_struct('n', 1, 'g', x))"
      else s"transform(slice(sequence(1, size(tk)), 1, greatest(size(tk) - ${n - 1}, 0)), " +
        s"i -> named_struct('n', $n, 'g', array_join(slice(tk, i, $n), ' ')))"
    val g = tk.select(col("doc_id"),
        explode(expr(s"concat(${tagged(1)}, ${tagged(2)}, ${tagged(5)})")).as("s"))
      .select(col("doc_id"), col("s.n").as("n"), col("s.g").as("g"))
    g.groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max(when(col("n") === 1, col("c"))).as("top_word_c"),
        sum(when(col("n") === 1, col("c"))).cast("long").as("n_tokens"),
        max(when(col("n") === 2, col("c"))).as("top_bigram_c"),
        sum(when(col("n") === 2, col("c"))).cast("long").as("n_bigrams"),
        sum(when(col("n") === 5 && col("c") > 1, col("c")).otherwise(0L))
          .cast("long").as("dup5_c"),
        sum(when(col("n") === 5, col("c"))).cast("long").as("n_5grams"))
      // docs too short for a bigram/5-gram drop, matching the oracle's
      // inner joins
      .where(col("n_bigrams").isNotNull && col("n_5grams").isNotNull)
      .select(col("doc_id"), col("n_tokens"),
        (col("top_word_c").cast("double") / col("n_tokens")).as("top_word_frac"),
        (col("top_bigram_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup5_c").cast("double") / col("n_5grams")).as("dup_5gram_frac"))
      .withColumn("is_repetitive",
        col("top_word_frac") > 0.2 || col("top_bigram_frac") > 0.1 ||
          col("dup_5gram_frac") > 0.3)
  }

  val repetition: QueryDef = QueryDef(
    "t_repetition",
    (s, dir) => repetitionMetrics(Tables.load(s, dir, "documents")),
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk FROM documents),
         uni AS (SELECT doc_id, MAX(c) AS top_word_c, CAST(SUM(c) AS BIGINT) AS n_tokens
           FROM (SELECT doc_id, g, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(tk) AS g FROM tk) u GROUP BY doc_id, g) x
           GROUP BY doc_id),
         bi AS (SELECT doc_id, MAX(c) AS top_bigram_c, CAST(SUM(c) AS BIGINT) AS n_bigrams
           FROM (SELECT doc_id, g, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                     i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)])) AS g
                   FROM tk) u GROUP BY doc_id, g) x
           GROUP BY doc_id),
         five AS (SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup5_c,
             CAST(SUM(c) AS BIGINT) AS n_5grams
           FROM (SELECT doc_id, g, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
                     i -> array_to_string(tk[CAST(i AS INT) : CAST(i + 4 AS INT)], ' '))) AS g
                   FROM tk) u GROUP BY doc_id, g) x
           GROUP BY doc_id)
         SELECT uni.doc_id, n_tokens,
           CAST(top_word_c AS DOUBLE) / n_tokens AS top_word_frac,
           CAST(top_bigram_c AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(dup5_c AS DOUBLE) / n_5grams AS dup_5gram_frac,
           (CAST(top_word_c AS DOUBLE) / n_tokens > 0.2
             OR CAST(top_bigram_c AS DOUBLE) / n_bigrams > 0.1
             OR CAST(dup5_c AS DOUBLE) / n_5grams > 0.3) AS is_repetitive
         FROM uni JOIN bi ON uni.doc_id = bi.doc_id
                  JOIN five ON uni.doc_id = five.doc_id"""))

  /** Pattern redaction — the PII-scrub shape (emails, phone numbers,
    * numeric identifiers) run over the semi-structured `props`
    * payload of the event log. One narrow codegen'd projection per
    * row; at 100 TB this is pure map work. The regexes stay inside
    * the POSIX-class subset that Java and RE2 evaluate identically,
    * and occurrence counts come from length arithmetic on the
    * replaced string (exact, engine-portable). Emails/phones are
    * structurally absent from this corpus — their counts are
    * hash-checked zeros proving the patterns run — while numeric-ID
    * redaction fires on every row.
    */
  val piiRedact: QueryDef = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+"
    val phoneRe = "[+]?[0-9][0-9 ()-]{6,}[0-9]"
    val numRe = "[0-9]+"
    QueryDef(
      "t_pii_redact",
      (s, dir) => {
        val scrubbed = regexp_replace(regexp_replace(regexp_replace(
          col("props"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), numRe, "<NUM>")
        // the events loader owns the ts-encoding conf contract — a
        // bare conf.set here was a session-global side effect whose
        // presence depended on query ordering
        graft.operators.Events.loadEvents(s, dir)
          .select(col("event_id"), scrubbed.as("scrubbed"))
          .withColumn("n_email", Portable.occurrences(col("scrubbed"), "<EMAIL>"))
          .withColumn("n_phone", Portable.occurrences(col("scrubbed"), "<PHONE>"))
          .withColumn("n_num", Portable.occurrences(col("scrubbed"), "<NUM>"))
      },
      Some {
        val scrub = s"regexp_replace(regexp_replace(regexp_replace(props, " +
          s"'$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'), '$numRe', '<NUM>', 'g')"
        s"""WITH r AS (SELECT event_id, $scrub AS scrubbed FROM events)
            SELECT event_id, scrubbed,
              ${P.occurrences("scrubbed", "<EMAIL>")} AS n_email,
              ${P.occurrences("scrubbed", "<PHONE>")} AS n_phone,
              ${P.occurrences("scrubbed", "<NUM>")} AS n_num
            FROM r"""
      })
  }

  /** Temperature-scaled mixture resampling (the multilingual α = 0.5
    * sampler): stratum s keeps k_s = ⌊√(n_s · n_min)⌋ documents, so
    * kept counts are proportional to n_s^α — rare strata keep
    * everything relative to common ones, the standard rebalance before
    * multilingual training. k_s is exact portable arithmetic (integer
    * product, correctly-rounded IEEE sqrt, floor); WHICH documents
    * survive is the deterministic hash-priority rank, reproducible
    * across engines and partitionings. One tiny per-stratum count
    * (broadcast both ways), one rank window per stratum — a single
    * corpus shuffle on the stratum key.
    */
  val mixtureSample: QueryDef = QueryDef(
    "t_mixture_sample",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n_s"))
      val minN = broadcast(counts.agg(min(col("n_s")).as("n_min")))
      val k = counts.crossJoin(minN)
        .select(col("lang"),
          floor(sqrt((col("n_s") * col("n_min")).cast("double"))).cast("long").as("k_s"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
      d.withColumn("rk", row_number().over(w))
        .join(broadcast(k), "lang")
        .where(col("rk") <= col("k_s"))
        .select("doc_id", "lang", "rk")
    },
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang),
            k AS (SELECT lang,
                    CAST(FLOOR(SQRT(CAST(n_s * (SELECT MIN(n_s) FROM c) AS DOUBLE))) AS BIGINT) AS k_s
                  FROM c),
            r AS (SELECT doc_id, lang,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
                  FROM documents)
            SELECT doc_id, r.lang, rk FROM r JOIN k ON r.lang = k.lang
            WHERE rk <= k_s"""))

  /** Sequence packing — the training-batch prep step: documents are
    * concatenated in a deterministic order within each language shard
    * and chopped into fixed 2048-token context windows; each document
    * is assigned the pack its first token lands in. A running-total
    * window per shard (one shuffle on the shard key, one
    * partition-local sort) — never a global sort: shards pack
    * independently, which is exactly how a 100 TB corpus packs on
    * 1000 executors. Output: per (lang, pack) doc/token counts and
    * how many docs straddle a window boundary.
    */
  val packSequences: QueryDef = QueryDef(
    "t_pack_sequences",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          ((length(col("text")) - length(replace(col("text"), lit(" "), lit("")))) + 1
            ).cast("long").as("n_tokens"))
        .withColumn("tok_end", sum(col("n_tokens")).over(w))
        .withColumn("tok_start", col("tok_end") - col("n_tokens"))
        .withColumn("pack_id", floor(col("tok_start") / 2048.0).cast("long"))
      d.groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(when(floor((col("tok_end") - 1) / 2048.0).cast("long") =!= col("pack_id"),
            1).otherwise(0)).cast("long").as("n_straddling"))
    },
    Some("""WITH d AS (SELECT doc_id, lang,
              CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
            FROM documents),
          c AS (SELECT doc_id, lang, n_tokens,
              SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS tok_end
            FROM d),
          p AS (SELECT lang, n_tokens, tok_end, tok_end - n_tokens AS tok_start,
              CAST(FLOOR((tok_end - n_tokens) / 2048.0) AS BIGINT) AS pack_id
            FROM c)
          SELECT lang, pack_id, COUNT(*) AS n_docs,
            CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
            CAST(SUM(CASE WHEN CAST(FLOOR((tok_end - 1) / 2048.0) AS BIGINT) <> pack_id
              THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
          FROM p GROUP BY 1, 2"""))

  /** Repetition-capped rebalancing ("epoch upsampling"): the other
    * half of mixture design next to downsampling ([[mixtureSample]]).
    * Each language is repeated toward the LARGEST stratum's size —
    * epochs = ceil(target / n_s), capped (here at 2) so low-resource
    * strata are never repeated past the point of memorization — the
    * standard repeat-cap recipe for multilingual / multi-source
    * training mixes. All arithmetic is exact integers (ceil-div as
    * (t + n − 1) DIV n, never IEEE), so the expansion is deterministic
    * and engine-portable. One tiny per-language count (broadcast back),
    * then a pure map-side `sequence`+`explode` — the corpus is
    * touched once and never shuffled at any scale.
    */
  val upsampleEpochs: QueryDef = QueryDef(
    "t_upsample_epochs",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n_s"))
      val target = counts.agg(max(col("n_s")).as("t"))
      val epochs = counts.crossJoin(broadcast(target))
        .select(col("lang"),
          least(lit(2L), expr("(t + n_s - 1) DIV n_s")).as("epochs"))
      d.join(broadcast(epochs), "lang")
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0L), col("epochs") - 1)).as("epoch"))
    },
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang),
         t AS (SELECT MAX(n_s) AS t FROM c),
         e AS (SELECT lang, LEAST(2, (t + n_s - 1) // n_s) AS epochs FROM c, t)
         SELECT d.doc_id, d.lang, CAST(unnest(range(e.epochs)) AS BIGINT) AS epoch
         FROM documents d JOIN e ON d.lang = e.lang"""))

  /** The conjunctive keyword queries served by [[invertedSearch]] —
    * literal (query, term) rows, identical in the Spark build and the
    * DuckDB oracle. Terms come from the corpus generator's fixed
    * vocabulary, so they exist at every scale factor.
    */
  private val SearchTerms: Seq[(Int, String)] = Seq(
    1 -> "scan", 1 -> "merge", 2 -> "stream", 2 -> "value",
    3 -> "hash", 3 -> "join")

  /** §2.2 — keyword search served from a PERSISTED inverted index:
    * the IR-side counterpart of the persisted ANN indexes. The index
    * is the classic postings table (term, doc_id, tf), a
    * [[graft.sources.BuildOnce]] table ([[servedPostings]]) laid out
    * partitioned by a 16-way term-hash bucket; a conjunctive query
    * then reads ONLY its terms' buckets (PartitionFilters on `b` — the
    * scan is O(matched postings), not O(corpus), at any scale),
    * broadcasts the tiny literal query table, keeps docs containing
    * ALL the query's terms, and ranks by summed term frequency (exact
    * integers; doc_id tie-break). The DuckDB oracle recomputes the whole thing
    * from raw text — hash equality proves index serving ≡ full scan.
    */
  /** Postings (term, doc_id, tf, b) of a (doc_id, text) corpus — the
    * shared build of both serving layouts (bucket-partitioned and
    * clustered); `b` is the same 60-bit md5 hash the driver-side
    * bucket filter uses.
    */
  /** The ONE term→bucket mapping shared by every index layout and
    * every driver-side filter: 16 buckets of the md5-60bit hash. Both
    * forms below MUST stay bit-identical — the pruned serving scan is
    * only correct while the filter hashes exactly like the layout.
    */
  private val TermBuckets = 16

  /** [[TermBuckets]] for oracle builders outside this object (the
    * forget capstone re-derives the postings bucket column in SQL). */
  private[graft] def termBucketCount: Int = TermBuckets

  /** Executor-side bucket expression (the `b` column of a postings
    * build) — first 15 hex chars of md5 as a 60-bit integer, mod 16.
    */
  private def bucketExpr(term: Column): Column =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"), lit(TermBuckets))

  /** Driver-side twin of [[bucketExpr]] for literal filter terms. */
  private def bucketsOf(words: Seq[String]): Seq[Long] =
    words.map { t =>
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Md5Hash60Util.hash60(b, 0, b.length) % TermBuckets
    }.distinct

  private[graft] def postingsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("b", bucketExpr(col("term")))

  /** The query terms' buckets — a literal IN filter the postings scan
    * prunes on. */
  private[graft] def searchBuckets: Seq[Long] = bucketsOf(SearchTerms.map(_._2))

  /** Conjunctive all-terms top-10 over a postings frame — shared by
    * every serving layout. Arity is derived from SearchTerms itself,
    * so a query with any number of terms keeps all-terms semantics.
    */
  private[graft] def serveConjunctive(s: org.apache.spark.sql.SparkSession,
      post0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the query's terms as a PUSHED literal IN-filter (semantically a
    // no-op next to the inner join below): bucket pruning narrows the
    // scan to the terms' partitions, and this narrows it further to
    // the matched ROW GROUPS — with term-sorted runs ([[termSorted]])
    // the read approaches O(term postings) instead of O(bucket)
    val post = post0.where(col("term").isin(SearchTerms.map(_._2).distinct: _*))
    val q = broadcast(s.createDataFrame(SearchTerms).toDF("query_id", "term"))
    val arity = broadcast(s.createDataFrame(
      SearchTerms.groupBy(_._1).map { case (id, ts) => (id, ts.size.toLong) }.toSeq)
      .toDF("query_id", "n_terms"))
    val hits = post.join(q, "term")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nt"), sum(col("tf")).as("score"))
      .join(arity, "query_id")
      .where(col("nt") === col("n_terms"))
    // query_id is a HOT key (few distinct queries, many matching
    // docs), but the rank-window top-10 is safe here: Catalyst
    // inserts a PARTIAL WindowGroupLimit below the exchange, so each
    // map task ships only its local top-10 per query — the shuffle
    // carries O(10 × tasks), never the full match set (plan-asserted
    // in PipelineSpec)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    hits.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
      .select("query_id", "doc_id", "score", "rk")
  }

  /** The full-corpus DuckDB recompute — shared by the build-once query
    * and its incremental twins: identical output ⟹ hash equality
    * proves incremental maintenance ≡ one-shot build. (A def, not a
    * val: QueryDef vals below capture it at object init.)
    * `corpusWhere` restricts the corpus (the DML twin's live-docs
    * predicate); empty means the whole documents table.
    */
  private[graft] def conjunctiveOracleSql(corpusWhere: String = ""): String =
    s"""WITH q(query_id, term) AS (VALUES ${
        SearchTerms.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
         qc AS (SELECT query_id, COUNT(*) AS n_terms FROM q GROUP BY 1),
         tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
           FROM documents $corpusWhere),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         hit AS (SELECT q.query_id, tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS score
             FROM tf JOIN q ON tf.term = q.term
             JOIN qc ON qc.query_id = q.query_id
             GROUP BY 1, 2 HAVING COUNT(*) = MAX(qc.n_terms))
         SELECT query_id, doc_id, score, rk FROM (
           SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           FROM hit) r WHERE rk <= 10"""

  /** EXACTLY-ONCE postings maintenance for a STREAM of documents:
    * each micro-batch's postings append under the (streamId, batchId)
    * manifest tag — postings are ADDITIVE across disjoint doc batches,
    * so no fold or rewrite is ever needed; a replayed batch no-ops.
    * The streaming half of the search family's incremental story
    * (the clustered-delta batch path is [[searchIncremental]]).
    */
  def postingsIngestBatch(batch: org.apache.spark.sql.DataFrame,
      postTable: String, streamId: String, batchId: Long): Int =
    graft.sources.Snapshots.ingestBatch(
      postingsOf(batch), postTable, streamId, batchId)

  /** Continuous form of [[postingsIngestBatch]]. */
  def postingsIngestStream(stream: org.apache.spark.sql.DataFrame,
      postTable: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        postingsIngestBatch(b, postTable, streamId, id)
        ()
      }

  /** The persisted postings of `dir`'s documents, partitioned by `b`. */
  private def servedPostings(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sources.BuildOnce("invidx", dir, "documents").sub("postings").serve(s, "b")(
      termSorted(postingsOf(Tables.load(s, dir, "documents"))))

  val invertedSearch: QueryDef = QueryDef(
    "t_inverted_search",
    (s, dir) => serveConjunctive(s,
      servedPostings(s, dir).where(col("b").isin(searchBuckets: _*))),
    Some(conjunctiveOracleSql()))

  /** Term-range runs per bucket: rows range-partitioned by (b, term)
    * and sorted, so each bucket directory holds a handful of FILES
    * each covering a contiguous term range — parquet footer min/max
    * then answers a pushed `term IN (…)` at FILE granularity (and
    * row-group granularity inside big files), the within-bucket half
    * of pruning next to the bucket partition's between-bucket half.
    * Build-time cost: one range shuffle + sort, amortized over every
    * query; proven by the serving scale-law test (scan output ≈
    * matched postings, not bucket size).
    */
  private def termSorted(post: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    post.repartitionByRange(64, col("b"), col("term"))
      .sortWithinPartitions("b", "term", "doc_id")

  /** INCREMENTAL index maintenance — the steady-state shape at scale:
    * the postings live in a CLUSTERED snapshot table (range-sorted by
    * bucket `b`, the same layout path the IVF lists use). A new doc
    * batch's postings land cheaply as an unclustered delta
    * ([[graft.sources.Snapshots.commitAppend]]); minor compaction
    * re-clusters ONLY the delta (O(batch), never O(index)); serving
    * reads the table with the bucket filter answered by per-file
    * min/max after compaction. The table is rebuilt per run — the
    * commits ARE the operator under test (the q_tpch_refresh
    * convention) — and the oracle is the SAME full-corpus recompute as
    * `t_inverted_search`, so hash equality proves base + delta +
    * compact ≡ one-shot build.
    */
  val searchIncremental: QueryDef = QueryDef(
    "t_search_incremental",
    (s, dir) => {
      import graft.sources.Snapshots
      val root = graft.Roots.scratch + "/invidx/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "/postings_clustered"
      Snapshots.deleteRecursively(root)
      val d = Tables.load(s, dir, "documents")
      // bootstrap: 90% of the corpus as the clustered base run
      Snapshots.commitClustered(
        postingsOf(d.where(pmod(col("doc_id"), lit(10)) =!= 0)), root, Seq("b"), files = 8)
      // the new batch appends unclustered, then compacts (delta only)
      Snapshots.commitAppend(
        postingsOf(d.where(pmod(col("doc_id"), lit(10)) === 0)), root)
      Snapshots.compact(s, root, Seq("b"), files = 4)
      serveConjunctive(s,
        Snapshots.read(s, root).where(col("b").isin(searchBuckets: _*)))
    },
    Some(conjunctiveOracleSql()))

  private val PostThroughPrefix = "post_through "

  /** The postings table's [[graft.sources.SignedIndex]]: weight `tf`
    * per (term, doc, bucket).
    */
  private[graft] val Postings =
    graft.sources.SignedIndex(PostThroughPrefix, Seq("term", "doc_id", "b"), "tf")

  /** The BM25 doclen sidecar's [[graft.sources.SignedIndex]]: weight
    * `dl` per doc. A zero-length doc's bootstrap row (dl = 0) is not
    * live; the serve's weight > 0 filter drops it in both forms.
    */
  private[graft] val Doclen = graft.sources.SignedIndex(PostThroughPrefix, Seq("doc_id"), "dl")

  /** The BM25 corpus scalars: signed (np, totalp) partial rows with no
    * key, summed at read. They fold and compact like a
    * [[graft.sources.SignedIndex]] but keep their own net, the sum of
    * both columns.
    */
  private val Totals = new graft.sources.SignedIndex(Seq(PostThroughPrefix), Nil, "np") {
    override def net(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.agg(sum(col("np")).cast("long").as("np"), sum(col("totalp")).cast("long").as("totalp"))
  }

  /** DELETE-AWARE incremental maintenance of a postings table over a
    * VERSIONED documents snapshot table — what happens to the search
    * index when the base corpus shrinks (deleteWhere / merge), the
    * case the fingerprint-keyed build-once path answers with a FULL
    * rebuild. Postings are an ABELIAN structure in `tf`: a departed
    * doc's postings fold in NEGATED (tombstones), an inserted doc's
    * add — so one maintenance pass costs O(changed docs): the row
    * delta comes from [[graft.sources.Snapshots.changesBetween]],
    * which reads ONLY the data dirs that entered or left the base
    * manifest (with selective DML that is the touched dirs, not the
    * table), and the commit APPENDS one tombstone-delta dir under the
    * maintained-through watermark tag. Serving nets tombstones per
    * (term, doc) AFTER bucket pruning ([[servePostingsNetAt]]), so a
    * deleted doc vanishes without the index ever being rewritten —
    * the LSM/Delta pattern. Fold, serve and compaction: [[Postings]].
    */
  def postingsMaintain(s: org.apache.spark.sql.SparkSession,
      baseTable: String, postTable: String): Int =
    Postings.fold(s, baseTable, postTable)(postingsOf)

  /** Streaming CDC-apply with search-index maintenance in the loop:
    * each micro-batch of keyed doc upserts lands in the base snapshot
    * table EXACTLY-ONCE ([[graft.sources.Snapshots.mergeBatch]] —
    * updates replace same-key rows, new keys insert), then
    * [[postingsMaintain]] folds the resulting change feed inside the
    * SAME foreachBatch — so the search index is always ≤ one batch
    * stale, and a replayed batch no-ops on both tables: the merge's
    * ingest tag blocks the double-apply and the maintenance watermark
    * is already at the head ([[graft.sources.MaterializedView
    * .ingestWithRollup]]'s convention applied to the inverted index).
    */
  def mergeWithPostings(stream: org.apache.spark.sql.DataFrame,
      baseTable: String, postTable: String, key: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.sources.Snapshots.mergeBatch(b, baseTable, key, streamId, id)
        postingsMaintain(b.sparkSession, baseTable, postTable)
        ()
      }

  /** Live postings from the postings TABLE head ([[Postings]]),
    * bucket-pruned ahead of the net when `pruned` — the net is then
    * computed over the probed buckets only, O(matched postings).
    */
  private[graft] def servePostingsNetAt(s: org.apache.spark.sql.SparkSession,
      postT: String, pruned: Boolean = true): org.apache.spark.sql.DataFrame =
    Postings.serve(s, postT,
      df => if (pruned) df.where(col("b").isin(searchBuckets: _*)) else df)

  /** Catalog twin of the delete-aware path: bootstrap 90% of the
    * corpus into a snapshot table and build its postings; DELETE the
    * doc_id % 7 == 0 slice and APPEND the held-out 10% batch; one
    * maintenance pass folds both as tombstone/insert postings deltas.
    * The oracle recomputes search over exactly the LIVE corpus —
    * hash equality proves maintained-index serving ≡ full rebuild
    * after real DML, the property the build-once fingerprint path
    * cannot give without rebuilding.
    */
  val searchDml: QueryDef = QueryDef(
    "t_search_dml",
    (s, dir) => {
      import graft.sources.Snapshots
      val root = graft.Roots.scratch + "/invidx/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "/dml"
      Snapshots.deleteRecursively(root)
      val (baseT, postT) = (s"$root/docs", s"$root/postings")
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      Snapshots.commitOverwrite(d.where(pmod(col("doc_id"), lit(10)) =!= 0), baseT)
      postingsMaintain(s, baseT, postT) // bootstrap build
      Snapshots.deleteWhere(s, baseT, pmod(col("doc_id"), lit(7)) === 0)
      Snapshots.commitAppend(d.where(pmod(col("doc_id"), lit(10)) === 0), baseT)
      postingsMaintain(s, baseT, postT) // folds delete + append, O(changes)
      serveConjunctive(s, servePostingsNetAt(s, postT))
    },
    Some(conjunctiveOracleSql(
      "WHERE (doc_id % 10 <> 0 AND doc_id % 7 <> 0) OR doc_id % 10 = 0")))

  /** Phrase queries for [[phraseSearch]] — (id, first word, second
    * word), from the generator's fixed vocabulary. */
  private val PhraseTerms: Seq[(Int, String, String)] =
    Seq((1, "hash", "join"), (2, "sort", "merge"))

  /** Exact PHRASE search over a persisted POSITIONAL inverted index —
    * the IR capability conjunctive search ([[invertedSearch]]) cannot
    * express: "hash join" must match only ADJACENT occurrences, so the
    * postings carry (term, doc_id, pos) and a two-word phrase is a
    * self-join on doc with pos+1 adjacency (the standard positional-
    * postings algorithm). Same serving shape as the conjunctive index:
    * a [[graft.sources.BuildOnce]] table partitioned by term-hash
    * bucket, the query reads ONLY its words' buckets and the tiny
    * phrase table broadcasts. Positions are raw-split ordinals in
    * both engines (empty tokens keep their slot and can never match a
    * word), so adjacency arithmetic is identical and the DuckDB
    * full-recompute oracle proves serving ≡ scan by hash equality.
    */
  val phraseSearch: QueryDef = QueryDef(
    "t_phrase_search",
    (s, dir) => {
      val words = PhraseTerms.flatMap(p => Seq(p._2, p._3)).distinct
      val post = graft.sources.BuildOnce("invidx", dir, "documents").sub("postings_pos")
        .serve(s, "b")(Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
          .where(col("term") =!= "")
          .withColumn("b", bucketExpr(col("term")))
          .repartitionByRange(64, col("b"), col("term"))
          .sortWithinPartitions("b", "term", "doc_id", "pos"))
        .where(col("b").isin(bucketsOf(words): _*))
        // pushed term literals → row-group pruning inside the buckets
        .where(col("term").isin(words: _*))
      val qa = broadcast(s.createDataFrame(PhraseTerms.map(p => (p._1, p._2)))
        .toDF("phrase_id", "term"))
      val qb = broadcast(s.createDataFrame(PhraseTerms.map(p => (p._1, p._3)))
        .toDF("phrase_id", "term"))
      val a = post.join(qa, "term").select(col("phrase_id"), col("doc_id"), col("pos").as("pa"))
      val b = post.join(qb, "term").select(col("phrase_id"), col("doc_id"), col("pos").as("pb"))
      a.join(b, Seq("phrase_id", "doc_id"))
        .where(col("pb") === col("pa") + 1)
        .groupBy("phrase_id", "doc_id")
        .agg(count(lit(1)).as("n_hits"))
    },
    Some(s"""WITH ph(phrase_id, t1, t2) AS (VALUES ${
        PhraseTerms.map { case (i, a, b) => s"($i, '$a', '$b')" }.mkString(", ")}),
         tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
             generate_subscripts(string_split(lower(text), ' '), 1) AS pos
           FROM documents),
         a AS (SELECT ph.phrase_id, tk.doc_id, tk.pos FROM tk JOIN ph ON tk.term = ph.t1),
         b AS (SELECT ph.phrase_id, tk.doc_id, tk.pos FROM tk JOIN ph ON tk.term = ph.t2)
         SELECT a.phrase_id, a.doc_id, COUNT(*) AS n_hits
         FROM a JOIN b ON b.phrase_id = a.phrase_id AND b.doc_id = a.doc_id
           AND b.pos = a.pos + 1
         GROUP BY 1, 2"""))

  private val NShards = 8

  /** Deterministic shard export — the LAST step of a training-data
    * pipeline: assign every document to one of [[NShards]] output
    * shards by a salted content-independent hash (so reruns and
    * backfills land rows identically), fix a reproducible total order
    * WITHIN each shard (hash-shuffled, tie-broken by doc_id — a
    * deterministic global shuffle, the thing `ORDER BY random()`
    * cannot give you), and emit each row's byte offset into its shard
    * via a running n_chars sum — the seek manifest a trainer's data
    * loader reads.
    *
    * Scale shape: the hash spreads rows uniformly, so the per-shard
    * sort has NO hot key — each shard is one balanced shuffle
    * partition's worth of work, and shard count is the write-
    * parallelism knob (raise [[NShards]] with the cluster; the plan is
    * one hash-partitioned sort, identical at any count). Contrast a
    * single global ORDER BY, which funnels the corpus through one
    * task. Both windows share one (shard, h, doc_id) sort.
    */
  val shardExport: QueryDef = QueryDef(
    "t_shard_export",
    (s, dir) => {
      val h = conv(substring(md5(
        concat(lit("shard:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("h"), col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(NShards)))
        .withColumn("pos", row_number().over(w))
        .withColumn("offset", coalesce(
          sum(col("n_chars")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("shard", "pos", "doc_id", "offset")
    },
    Some(s"""WITH d AS (SELECT doc_id, n_chars,
           ${Portable.textSql.h60("'shard:' || CAST(doc_id AS VARCHAR)")} AS h
         FROM documents),
       sh AS (SELECT doc_id, n_chars, h,
           CAST(h % $NShards AS BIGINT) AS shard FROM d)
       SELECT shard,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos,
         doc_id,
         CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
       FROM sh"""))

  /** Token count per document — the BM25 `dl` sidecar build: one
    * map-only pass, 16 bytes/doc output (at scale, bucket it by
    * doc_id so the scoring join below is co-located).
    */
  private[graft] def docLengths(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      size(filter(split(lower(col("text")), " "), t => t =!= ""))
        .cast("long").as("dl"))

  /** BM25 top-10 per query served from the PERSISTED postings index —
    * shared by `t_search_bm25` and the hybrid-fusion query.
    *
    * Scoring is the BM25 shape (k1 = 1.2, b = 0.75) carried out in
    * EXACT integer arithmetic so both engines rank identically:
    * per-term score = (idf · 22·tf·total) DIV
    * (10·tf·total + 3·total + 9·dl·N), which is the BM25 tf-saturation
    * term tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with avgdl = total/N
    * cleared of fractions (×10·total), scaled by a fixed-point idf =
    * (N·1000) DIV df (a monotone inverse-df surrogate for the log idf
    * — ln is not bit-portable across engines; ranking quality needs
    * idf to be monotone decreasing in df, which this is).
    * Precondition (documented, not silently wrong): 22000·N·tf·total
    * < 2⁶³ — at larger scales drop the idf scale or widen to decimal.
    *
    * Serving shape: postings scan pruned to the query terms' buckets
    * (PartitionFilters on `b` — O(matched postings) read), broadcast
    * literal query table, df aggregated from the pruned scan itself,
    * one shuffle join against the doclen sidecar on doc_id, corpus
    * scalars (N, total) as a broadcast single-row crossJoin — never a
    * driver collect.
    */
  private def bm25Ranked(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val post = servedPostings(s, dir).where(col("b").isin(searchBuckets: _*))
    val dl = bm25Doclen(s, dir)
    val tot = dl.agg(count(lit(1)).cast("long").as("n"),
      sum(col("dl")).cast("long").as("total"))
    bm25Serve(s, post, dl, tot)
  }

  /** The persisted BM25 doclen sidecar (doc_id, dl) of `dir`'s documents. */
  private[graft] def bm25Doclen(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sources.BuildOnce("invidx", dir, "documents").sub("doclen").serve(s)(
      docLengths(Tables.load(s, dir, "documents")))

  /** The BM25 serving tail over any (pruned postings, doclen sidecar,
    * 1-row corpus scalars) trio — shared by the build-once path
    * ([[bm25Ranked]]) and the incremental twin, which hands it a
    * clustered base+delta postings table and SUMMED totals partials.
    */
  private def bm25Serve(s: org.apache.spark.sql.SparkSession,
      post0: org.apache.spark.sql.DataFrame, dl: org.apache.spark.sql.DataFrame,
      tot: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // pushed term literals, as in serveConjunctive (df below is
    // per-term over exactly these terms, so the filter is a no-op
    // semantically and a row-group prune physically)
    val post = post0.where(col("term").isin(SearchTerms.map(_._2).distinct: _*))
    val q = broadcast(s.createDataFrame(SearchTerms).toDF("query_id", "term"))
    val dfs = broadcast(post.join(q.select("term").distinct(), "term")
      .groupBy("term").agg(count(lit(1)).cast("long").as("df")))
    val hits = post.join(q, "term").join(dfs, "term").join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("sc", expr(
        "(((n * 1000) DIV df) * 22 * tf * total) DIV " +
          "(10*tf*total + 3*total + 9*dl*n)"))
    val scored = hits.groupBy("query_id", "doc_id")
      .agg(sum(col("sc")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("rk").cast("long").as("rk"))
  }

  /** The DuckDB full-corpus recompute of [[bm25Ranked]] — hash
    * equality proves pruned-index serving ≡ full scan, doclen sidecar
    * included. (A def for the same object-init reason as
    * [[conjunctiveOracleSql]].)
    */
  private def bm25OracleSql: String = bm25OracleSqlWhere("")

  /** [[bm25OracleSql]] with a live-corpus restriction — the DML twin's
    * oracle (the `conjunctiveOracleSql(corpusWhere)` convention).
    */
  private def bm25OracleSqlWhere(corpusWhere: String): String =
    s"""WITH q(query_id, term) AS (VALUES ${
        SearchTerms.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
       dl AS (SELECT doc_id,
           CAST(len(${Portable.textSql.tokensLower}) AS BIGINT) AS dl
         FROM documents $corpusWhere),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total FROM dl),
       tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
         FROM documents $corpusWhere),
       tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         FROM tk GROUP BY 1, 2),
       df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       sc AS (SELECT q.query_id, tf.doc_id,
           ((((tot.n * 1000) // df.df) * 22 * tf.tf * tot.total) //
             (10*tf.tf*tot.total + 3*tot.total + 9*dl.dl*tot.n)) AS s
         FROM tf JOIN q ON tf.term = q.term
           JOIN df ON df.term = tf.term
           JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot),
       agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score
         FROM sc GROUP BY 1, 2)
       SELECT query_id, doc_id, score, rk FROM (
         SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         FROM agg) r WHERE rk <= 10"""

  /** §2.2 — BM25-ranked keyword search (disjunctive: any query term
    * contributes) over the persisted inverted index + doclen sidecar;
    * see [[bm25Ranked]] for the scoring derivation and serving shape.
    */
  val searchBm25: QueryDef = QueryDef(
    "t_search_bm25",
    (s, dir) => bm25Ranked(s, dir),
    Some(bm25OracleSql))

  /** INCREMENTAL BM25 — [[searchIncremental]]'s clustered-delta
    * maintenance extended to everything BM25 scoring needs: a new doc
    * batch updates (1) the clustered postings table via an unclustered
    * delta append + delta-only compaction, (2) the doclen sidecar via
    * a plain append, and (3) the corpus scalars via an appended 1-row
    * PARTIAL (batch count, batch token total) — every update O(batch),
    * never a corpus rescan; serving sums the partials (exact integer
    * addition, so N and total are bit-identical to a full recompute)
    * and reads postings with the bucket filter answered by per-file
    * min/max. The table set is rebuilt per run — the commits ARE the
    * operator (the q_tpch_refresh convention) — and the oracle is the
    * SAME full-corpus recompute as `t_search_bm25`: hash equality
    * proves base + delta + compaction serving ≡ one-shot build,
    * ranking included.
    */
  val searchBm25Incremental: QueryDef = QueryDef(
    "t_search_bm25_incremental",
    (s, dir) => {
      import graft.sources.Snapshots
      val root = graft.Roots.scratch + "/invidx/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "/bm25inc"
      Snapshots.deleteRecursively(root)
      val (postT, dlT, totT) = (s"$root/postings", s"$root/doclen", s"$root/totals")
      val d = Tables.load(s, dir, "documents")
      val base = d.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = d.where(pmod(col("doc_id"), lit(10)) === 0)
      def totalsPartial(docs: org.apache.spark.sql.DataFrame) =
        docLengths(docs).agg(count(lit(1)).cast("long").as("np"),
          sum(col("dl")).cast("long").as("totalp"))
      // bootstrap: 90% of the corpus as the clustered base run, then
      // the new batch's three O(batch) commits + delta-only compaction.
      // The three tables are independent chains — overlap their jobs
      // from a driver pool (guide §2.6); within each chain the commit
      // order (and so each table's version sequence) is unchanged.
      graft.Par.run(
        () => {
          Snapshots.commitClustered(postingsOf(base), postT, Seq("b"), files = 8)
          Snapshots.commitAppend(postingsOf(batch), postT)
          Snapshots.compact(s, postT, Seq("b"), files = 4)
        },
        () => {
          Snapshots.commitAppend(docLengths(base), dlT)
          Snapshots.commitAppend(docLengths(batch), dlT)
        },
        () => {
          Snapshots.commitAppend(totalsPartial(base), totT)
          Snapshots.commitAppend(totalsPartial(batch), totT)
        })
      val tot = Snapshots.read(s, totT)
        .agg(sum(col("np")).cast("long").as("n"),
          sum(col("totalp")).cast("long").as("total"))
      bm25Serve(s,
        Snapshots.read(s, postT).where(col("b").isin(searchBuckets: _*)),
        Snapshots.read(s, dlT), tot)
    },
    Some(bm25OracleSql))

  /** DELETE-AWARE maintenance of the full BM25 table set — what
    * [[postingsMaintain]] does for conjunctive serving, extended to
    * everything BM25 scoring reads: ONE change-feed pass
    * ([[graft.sources.Snapshots.changesBetween]], reading only the
    * dirs that entered/left the base manifest) appends tombstone
    * deltas to all three tables — postings (negated tf), the doclen
    * sidecar (negated dl), and the corpus scalars (one SIGNED partial
    * row: inserted − departed counts/tokens) — each O(changed docs).
    * Serving nets postings and doclens per doc and sums the scalar
    * partials; exact integer addition keeps N, total, df, and every
    * score bit-identical to a full rebuild of the live corpus.
    */
  def bm25Maintain(s: org.apache.spark.sql.SparkSession, baseTable: String,
      postT: String, dlT: String, totT: String): Unit = {
    import graft.sources.Snapshots
    // one base version for all three tables, so one walk folds the set
    // through the same span
    val curV = Snapshots.currentVersion(baseTable)
    def signedTotals(ins: org.apache.spark.sql.DataFrame,
        del: org.apache.spark.sql.DataFrame) =
      docLengths(ins).withColumn("sgn", lit(1L))
        .unionByName(docLengths(del).withColumn("sgn", lit(-1L)))
        .agg(sum(col("sgn")).cast("long").as("np"),
          sum(col("sgn") * col("dl")).cast("long").as("totalp"))
    // each table folds INDEPENDENTLY under its OWN watermark: a crash
    // between the three commits leaves the set torn only until the
    // next maintenance pass, which re-folds exactly the tables whose
    // watermark is behind (from their own lastV — no shared gate, no
    // double-fold); readers of a torn instant pin versions per table,
    // the snapshot-isolation contract. The three are INDEPENDENT
    // per-table chains, so they run from a driver thread pool and their
    // jobs overlap (guide §2.6); each chain keeps its own fold →
    // compaction order, so per-table version sequences are unchanged
    graft.Par.run(
      () => Postings.fold(s, baseTable, postT, Some(curV))(postingsOf),
      () => Doclen.fold(s, baseTable, dlT, Some(curV))(docLengths),
      () => Totals.foldWith(s, baseTable, totT, Some(curV)) { f =>
        val base = Snapshots.readVersion(s, baseTable, f.curV)
        signedTotals(base, base.limit(0))
      } { f =>
        val (ins, del) = Snapshots.changesBetween(s, baseTable, f.lastV, f.curV)
        signedTotals(ins, del)
      })
    ()
  }

  /** Catalog twin: BM25 over a corpus that suffered real DML — the
    * [[searchDml]] scenario (bootstrap 90%, delete the doc_id % 7
    * slice, append the held-out batch) served entirely from the
    * tombstone-maintained BM25 table set; the oracle recomputes BM25
    * over exactly the live corpus, so hash equality proves ranking
    * survives deletes without an index rebuild.
    */
  /** Serve step of [[searchBm25Dml]] (its phase profile:
    * tools/bm25dml_ab_r11.txt): fold the tombstone-maintained table set
    * (net postings in the probed buckets, net doclens, summed scalar
    * partials) and rank.
    */
  private[graft] def bm25ServeNet(s: org.apache.spark.sql.SparkSession,
      postT: String, dlT: String, totT: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.Snapshots
    val tot = Snapshots.read(s, totT)
      .agg(sum(col("np")).cast("long").as("n"),
        sum(col("totalp")).cast("long").as("total"))
    bm25Serve(s, servePostingsNetAt(s, postT), Doclen.serve(s, dlT), tot)
  }

  val searchBm25Dml: QueryDef = QueryDef(
    "t_search_bm25_dml",
    (s, dir) => {
      import graft.sources.Snapshots
      val root = graft.Roots.scratch + "/invidx/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "/bm25dml"
      Snapshots.deleteRecursively(root)
      val (baseT, postT, dlT, totT) =
        (s"$root/docs", s"$root/postings", s"$root/doclen", s"$root/totals")
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      Snapshots.commitOverwrite(d.where(pmod(col("doc_id"), lit(10)) =!= 0), baseT)
      bm25Maintain(s, baseT, postT, dlT, totT)
      Snapshots.deleteWhere(s, baseT, pmod(col("doc_id"), lit(7)) === 0)
      Snapshots.commitAppend(d.where(pmod(col("doc_id"), lit(10)) === 0), baseT)
      bm25Maintain(s, baseT, postT, dlT, totT)
      bm25ServeNet(s, postT, dlT, totT)
    },
    Some(bm25OracleSqlWhere(
      "WHERE (doc_id % 10 <> 0 AND doc_id % 7 <> 0) OR doc_id % 10 = 0")))

  /** query_id → seed embedding vec_id: the semantic half of a hybrid
    * query (the lexical half is that query_id's terms in
    * [[SearchTerms]]). Deterministic small ids so they exist at every
    * scale factor.
    */
  private val HybridSeeds: Seq[(Int, Long)] = Seq((1, 7L), (2, 14L), (3, 21L))

  /** Hybrid retrieval — BM25 lexical top-10 and embedding-cosine
    * top-10 fused by Reciprocal Rank Fusion (Cormack et al. 2009):
    * rrf(d) = Σ_lists 1/(60 + rank_list(d)), computed in fixed point
    * (10⁹ DIV (60+rank)) so both engines fuse identically; a doc in
    * both lists accumulates both contributions (n_lists reports how
    * many). The production "vector store + keyword index" serving
    * pattern: neither retriever sees the other's scores, so fusion
    * needs no score calibration — only ranks.
    *
    * Scale shape: both inputs are already top-k per query (tiny); the
    * fusion is a union + groupBy on O(queries × 20) rows. BOTH
    * retriever sides serve from pinned persisted indexes: the lexical
    * side from the pruned postings buckets ([[bm25Ranked]]), the
    * vector side from the partition-pruned IVF inverted lists
    * ([[graft.operators.Similarity.ivfTopK]] — NProbe cid= directories
    * per seed, never a corpus scan). The DuckDB oracle reproduces the
    * IVF-probed candidate set bit-for-bit, so approximation never
    * shows up as a mismatch.
    */
  val hybridRrf: QueryDef = QueryDef(
    "s_hybrid_rrf",
    (s, dir) => {
      val lex = bm25Ranked(s, dir).select(col("query_id"), col("doc_id"),
        expr("CAST(1000000000 AS BIGINT) DIV (60 + rk)").as("c"))
      val vec = graft.operators.Similarity.ivfTopK(s, dir, HybridSeeds, 10)
        .select(col("query_id"), col("n_id").as("doc_id"),
          expr("CAST(1000000000 AS BIGINT) DIV (60 + CAST(rn AS BIGINT))").as("c"))
      val fused = lex.unionByName(vec).groupBy("query_id", "doc_id")
        .agg(sum(col("c")).as("rrf"), count(lit(1)).cast("long").as("n_lists"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("rk", row_number().over(wf)).where(col("rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("rrf"), col("n_lists"),
          col("rk").cast("long").as("rk"))
    },
    Some(s"""WITH q(query_id, term) AS (VALUES ${
        SearchTerms.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
       dl AS (SELECT doc_id,
           CAST(len(${Portable.textSql.tokensLower}) AS BIGINT) AS dl
         FROM documents),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS BIGINT) AS total FROM dl),
       tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         FROM tk GROUP BY 1, 2),
       df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       sc AS (SELECT q.query_id, tf.doc_id,
           ((((tot.n * 1000) // df.df) * 22 * tf.tf * tot.total) //
             (10*tf.tf*tot.total + 3*tot.total + 9*dl.dl*tot.n)) AS s
         FROM tf JOIN q ON tf.term = q.term
           JOIN df ON df.term = tf.term
           JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot),
       agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score
         FROM sc GROUP BY 1, 2),
       lex AS (SELECT query_id, doc_id,
           CAST(1000000000 AS BIGINT) // (60 + rk) AS c FROM (
         SELECT query_id, doc_id, ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           FROM agg) r WHERE rk <= 10),
       sd(query_id, seed_id) AS (VALUES ${
        HybridSeeds.map { case (i, v) => s"($i, $v)" }.mkString(", ")}),
       ${graft.operators.Similarity.ivfTopKSql(10)},
       vecl AS (SELECT query_id, n_id AS doc_id,
           CAST(1000000000 AS BIGINT) // (60 + rn) AS c FROM ivtop),
       u AS (SELECT * FROM lex UNION ALL SELECT * FROM vecl),
       f AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf,
           CAST(COUNT(*) AS BIGINT) AS n_lists FROM u GROUP BY 1, 2)
       SELECT query_id, doc_id, rrf, n_lists, rk FROM (
         SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
         FROM f) r WHERE rk <= 10"""))

  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** RAG-style corpus chunking — split every document into
    * fixed-width OVERLAPPING token windows ([[ChunkTokens]] tokens,
    * stride [[ChunkStride]], so consecutive chunks share
    * ChunkTokens−ChunkStride tokens of context), the unit a retrieval
    * system embeds and indexes. Output is one row per chunk:
    * (doc_id, chunk_id, start, n_tokens, chunk_text); the trailing
    * chunk keeps whatever tokens remain (standard — a short tail is
    * still retrievable context).
    *
    * Scale shape: a pure per-row map (tokenize → generate window
    * starts → slice) — ZERO exchanges at any corpus size; chunk rows
    * inherit the scan's partitioning, so the downstream embed/index
    * stages start from an already-balanced layout. Growth is bounded:
    * ≤ len/stride + 1 chunks per doc, each materializing ≤
    * [[ChunkTokens]] tokens, so output bytes ≈ (W/S)× corpus — the
    * overlap factor a retrieval design chooses explicitly.
    */
  val chunkRag: QueryDef = QueryDef(
    "t_chunk_rag",
    (s, dir) => {
      val tk = filter(split(lower(col("text")), " "), t => t =!= "")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(1), size(col("tk")), lit(ChunkStride))))
        .toDF("doc_id", "tk", "chunk_id", "start")
        .select(col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          col("start").cast("long").as("start"),
          size(slice(col("tk"), col("start"), lit(ChunkTokens)))
            .cast("long").as("n_tokens"),
          concat_ws(" ", slice(col("tk"), col("start"), lit(ChunkTokens)))
            .as("chunk_text"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk
             FROM documents),
           st AS (SELECT doc_id, tk,
               unnest(range(1, len(tk)+1, $ChunkStride)) AS start
             FROM tk WHERE len(tk) > 0)
           SELECT doc_id,
             (start - 1) // $ChunkStride AS chunk_id,
             CAST(start AS BIGINT) AS start,
             CAST(len(tk[start:start+${ChunkTokens - 1}]) AS BIGINT) AS n_tokens,
             array_to_string(tk[start:start+${ChunkTokens - 1}], ' ') AS chunk_text
           FROM st"""))

  /** Per-domain caps with √-scaling (SURVEY §2.2 row 48): web-corpus
    * pipelines cap how many documents any single host/domain may
    * contribute (Common Crawl's per-host dedup caps; Gopher's
    * source-mixing) so one boilerplate-heavy domain can't dominate the
    * mixture. The cap is PROPORTIONAL — K(source) = ⌈√n_docs⌉ — so big
    * domains are damped sublinearly rather than cut to a fixed K that
    * either starves big domains or never binds on small ones. Within a
    * domain, the best documents survive: rank by length (stand-in for
    * a quality score; any deterministic score column drops in), tie-
    * break doc_id.
    *
    * Scale shape: the cap table is one map-side-combined count per
    * source (tiny — cardinality = #domains); ranking is one shuffle on
    * source. The rank filter bounds OUTPUT to Σ√n ≤ √(#domains·N),
    * but sort cost within a hot domain is that domain's size — the
    * per-partition sort spills, and domains are hash-spread across
    * partitions so no executor holds more than its hash share. IEEE
    * sqrt is correctly rounded, hence engine-portable on exact long
    * inputs.
    */
  val sourceCaps: QueryDef = QueryDef(
    "t_source_caps",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val caps = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          ceil(sqrt(col("n_docs").cast("double"))).cast("long").as("cap_k"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      d.withColumn("rk", row_number().over(w).cast("long"))
        .join(caps, "source")
        .where(col("rk") <= col("cap_k"))
        .select("source", "doc_id", "rk", "cap_k")
    },
    Some("""WITH caps AS (SELECT source, COUNT(*) AS n_docs,
                CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS cap_k
              FROM documents GROUP BY 1),
            r AS (SELECT source, doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
              FROM documents)
            SELECT r.source, r.doc_id, r.rk, caps.cap_k
            FROM r JOIN caps USING (source) WHERE rk <= cap_k"""))

  /** Boilerplate-block removal (SURVEY §2.2 row 49) — the jusText /
    * Trafilatura shape: segment each document into blocks, classify
    * every block by STOPWORD DENSITY (natural prose is dense in
    * function words; navigation/boilerplate is not — jusText's core
    * signal), drop low-density blocks, reassemble the survivors in
    * order. Blocks here are fixed 10-token segments (the corpus has no
    * newlines); the classifier gate is integer-exact (10·stop_cnt ≥
    * n_tok ⇔ density ≥ 10%) with {a, the} as the stopword set (this
    * corpus's function words). Output per doc: block counts, kept
    * token count, and the md5 fingerprint of the cleaned text — the
    * columns a downstream dedup joins on.
    *
    * Scale shape: segmentation + classification are pure map work
    * (text never shuffles as blocks); the one shuffle is the per-doc
    * reassembly groupBy, whose payload is the kept blocks only.
    * Ordered reassembly is sort_array over (block_id, text) structs —
    * no window, no per-doc sort task.
    */
  val boilerplate: QueryDef = QueryDef(
    "t_boilerplate",
    (s, dir) => {
      val tk = filter(split(lower(col("text")), " "), t => t =!= "")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), tk.as("tk"))
        .where(size(col("tk")) > 0)
        .select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, size(tk)-1, 10), i -> slice(tk, i+1, 10))")))
        .toDF("doc_id", "block_id", "blk")
        .select(col("doc_id"), col("block_id").cast("long").as("block_id"),
          size(col("blk")).as("n_tok"),
          size(filter(col("blk"), t => t === "a" || t === "the")).as("stop_cnt"),
          concat_ws(" ", col("blk")).as("btxt"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_blocks"),
          sum(when(col("stop_cnt") * 10 >= col("n_tok"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("stop_cnt") * 10 >= col("n_tok"), col("n_tok").cast("long"))
            .otherwise(0L)).as("n_tokens_kept"),
          md5(array_join(transform(
            sort_array(collect_list(when(col("stop_cnt") * 10 >= col("n_tok"),
              struct(col("block_id"), col("btxt"))))),
            x => x.getField("btxt")), " ")).as("clean_fp"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk
             FROM documents),
           blocks AS (SELECT doc_id, CAST(i // 10 AS BIGINT) AS block_id,
               tk[i+1:i+10] AS blk
             FROM (SELECT doc_id, tk, unnest(range(0, len(tk), 10)) AS i
               FROM tk WHERE len(tk) > 0)),
           cls AS (SELECT doc_id, block_id,
               CAST(len(blk) AS INT) AS n_tok,
               CAST(len(list_filter(blk, t -> t IN ('a','the'))) AS INT) AS stop_cnt,
               array_to_string(blk, ' ') AS btxt
             FROM blocks)
           SELECT doc_id, COUNT(*) AS n_blocks,
             CAST(SUM(CASE WHEN stop_cnt * 10 >= n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN stop_cnt * 10 >= n_tok THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept,
             md5(COALESCE(string_agg(CASE WHEN stop_cnt * 10 >= n_tok THEN btxt END,
               ' ' ORDER BY block_id), '')) AS clean_fp
           FROM cls GROUP BY doc_id"""))

  /** Model-based quality scoring via the hashing trick (SURVEY §2.2
    * row 50) — the fastText-classifier shape that DCLM/FineWeb-Edu
    * pipelines run over every document: token → feature-hash into D
    * buckets → weight lookup → linear score → threshold. The weight
    * VECTOR here is derived deterministically from the bucket id (a
    * splitmix-style multiply-mod — stands in for trained weights; a
    * real model drops its D floats into the same expression), because
    * the operator under test is the feature-hash + sparse-dot-product
    * plumbing, which is exactly what dominates at corpus scale.
    *
    * Scale shape: ZERO shuffle — the whole classifier is a per-row
    * `aggregate` over the token array (map-side, codegen'd, no
    * explode). At 100 TB this is the ideal operator: embarrassingly
    * parallel, reads text once, emits 4 columns. All arithmetic is
    * exact-integer (h60 < 2⁶³; bucket < 1024; |weight| ≤ 1001; score
    * ≤ n_tokens·1001).
    */
  /** The hashing-trick classifier weight of a token `t` —
    * h60(t) % 1024 buckets, weight(b) = (b·2654435761) % 2003 − 1001.
    * ONE copy (Spark + DuckDB rendering) shared by the classifier and
    * BOTH its evals (decile lift, AUC): editing the bucket count or
    * modulus anywhere else would make the evals silently score a
    * different model than `t_quality_classifier` ships.
    */
  private val classifierSparkW: String =
    "((cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint) % 1024)" +
      " * 2654435761L) % 2003 - 1001"
  private val classifierDuckW: String =
    s"((${Portable.textSql.h60("t")} % 1024) * 2654435761) % 2003 - 1001"

  val qualityClassifier: QueryDef = {
    val (sparkW, duckW) = (classifierSparkW, classifierDuckW)
    QueryDef(
      "t_quality_classifier",
      (s, dir) => {
        val tk = filter(split(lower(col("text")), " "), t => t =!= "")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), tk.as("tk"))
          .where(size(col("tk")) > 0)
          .select(col("doc_id"),
            size(col("tk")).cast("long").as("n_tokens"),
            expr(s"aggregate(tk, 0L, (acc, t) -> acc + ($sparkW))").as("score"))
          .withColumn("keep", col("score") > 0)
      },
      Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk
               FROM documents)
             SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform(tk, t -> $duckW)) AS BIGINT) AS score,
               CAST(list_sum(list_transform(tk, t -> $duckW)) AS BIGINT) > 0 AS keep
             FROM tk WHERE len(tk) > 0"""))
  }

  /** Per-document keyword extraction — top-3 terms by tf·idf, the
    * classic document-summarization / tag-generation op. idf in the
    * BM25 fixed-point convention: (N·1000) DIV df — monotone in df,
    * exact integer, engine-portable (ln is not bit-portable). Top-k
    * tie-break: score desc, then term asc.
    *
    * Scale shape: three shuffles, every one on a bounded key space —
    * (doc, term) tf pairs (the inverted-index shape, map-side
    * combined), df per term (vocabulary-sized), and the per-doc top-k
    * window, which Spark executes as WindowGroupLimit (the rank
    * filter pushes into the sort, so no doc's full term list survives
    * the exchange). No corpus self-join, no global sort.
    */
  val keywordsTfidf: QueryDef = QueryDef(
    "t_keywords_tfidf",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tf = docs.select(col("doc_id"),
          explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"),
          expr("tf * ((n * 1000) div df)").as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
    },
    Some(s"""WITH tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT COUNT(*) AS n FROM documents),
            sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                tf.tf * ((n.n * 1000) // df.df) AS score
              FROM tf JOIN df USING (term) CROSS JOIN n)
            SELECT doc_id, term, tf, score, rk FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc) t
            WHERE rk <= 3"""))

  /** Per-source quality-score calibration — rank-normalize a raw
    * quality signal WITHIN each source before applying one global
    * threshold, so a verbose domain can't crowd out a terse one (the
    * per-domain analog of `t_source_caps`' count damping: caps bound
    * volume, calibration normalizes QUALITY). Percentile rank in exact
    * integer fixed point: (rank−1)·10⁶ DIV (n_s−1) — 0 for the best
    * doc, 10⁶ for the worst, no IEEE percent_rank rounding to drift
    * between engines. Keeps each source's top 40 %.
    *
    * Scale shape: one shuffle on source; the rank window and the
    * per-source count share that partitioning (one exchange, plan has
    * a single sort); output ≈ 0.4·N rows. A skew-heavy source set
    * would pre-shard the window by (source, salt) and merge ranks —
    * the documented skew path, not needed at the observed fanout.
    */
  val qualityCalibrated: QueryDef = QueryDef(
    "t_quality_calibrated",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      val ws = org.apache.spark.sql.expressions.Window.partitionBy("source")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n_s", count(lit(1)).over(ws))
        .select(col("doc_id"), col("source"), col("n_chars"),
          // a singleton source's only doc IS its top doc: pct_rank 0
          // (the old n_s > 1 filter silently deleted whole long-tail
          // sources from the calibrated output)
          expr("case when n_s > 1 then ((rk - 1) * 1000000) div (n_s - 1) else 0 end")
            .as("pct_rank"))
        .where(col("pct_rank") <= 400000)
    },
    Some("""WITH r AS (SELECT doc_id, source, n_chars,
              CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk,
              COUNT(*) OVER (PARTITION BY source) AS n_s
            FROM documents),
            p AS (SELECT doc_id, source, n_chars,
              CASE WHEN n_s > 1 THEN ((rk - 1) * 1000000) // (n_s - 1)
                ELSE CAST(0 AS BIGINT) END AS pct_rank FROM r)
            SELECT doc_id, source, n_chars, pct_rank
            FROM p WHERE pct_rank <= 400000"""))

  /** Deterministic mixture interleave — the training-ORDER manifest
    * that follows mixture design: every language stratum is spread
    * UNIFORMLY through the epoch instead of concatenated (curriculum
    * accident) or RNG-shuffled (irreproducible). Doc with within-
    * stratum rank r of n_s gets position key pos = (r−1)·10⁹ DIV n_s:
    * stratum s occupies every ⌈10⁹/n_s⌉-th slot, so a training loader
    * reading in (pos, lang, doc_id) order sees each batch at the
    * corpus mixture. Within-stratum order is the hash priority of
    * `t_stratified_sample` (md5 of doc_id — reproducible, unbiased by
    * doc content).
    *
    * Scale shape: one shuffle on lang for the rank window + a
    * broadcast count table; pos is pure arithmetic. The manifest is
    * NOT globally row-numbered — the total order is the SORT KEY
    * (pos, lang, doc_id), which a distributed range-partitioned sort
    * (or the `t_shard_export` sharder) realizes without any global
    * window. Hash-compare is order-insensitive, so the oracle checks
    * the keys, not a materialized global sequence.
    */
  val mixtureInterleave: QueryDef = QueryDef(
    "t_mixture_interleave",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8), col("doc_id"))
      val ws = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n_s", count(lit(1)).over(ws))
        .select(col("doc_id"), col("lang"), col("r"), col("n_s"),
          expr("((r - 1) * 1000000000) div n_s").as("pos"))
    },
    Some("""WITH r AS (SELECT doc_id, lang,
              CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
                AS BIGINT) AS r,
              COUNT(*) OVER (PARTITION BY lang) AS n_s
            FROM documents)
            SELECT doc_id, lang, r, n_s,
              ((r - 1) * 1000000000) // n_s AS pos
            FROM r"""))

  /** Deterministic train/validation/test split — the assignment step
    * every training pipeline runs LAST: split by CONTENT-INDEPENDENT
    * hash of the stable doc key (md5-60bit of doc_id, mod 10 → 8/1/1),
    * so the split survives re-crawls, text edits, and backfills (a
    * text-hash split would migrate docs between splits when content
    * changes — leakage), and membership is reproducible from the key
    * alone with no stored assignment table. Reported per (lang,
    * split): doc and token counts — the stratification audit (hash
    * uniformity keeps per-language proportions ≈ 8/1/1 without
    * explicit stratified assignment).
    *
    * Scale shape: one map-side hash + one (lang, split) aggregate —
    * ≤ 3·#langs output rows, one tiny shuffle; the assignment itself
    * is embarrassingly parallel and joins nothing.
    */
  val trainTestSplit: QueryDef = QueryDef(
    "t_train_test_split",
    (s, dir) => {
      val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(10L))
      Tables.load(s, dir, "documents")
        .select(col("lang"),
          when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
            .as("split"),
          size(expr("filter(split(lower(text), ' '), x -> x <> '')"))
            .cast("long").as("n_tok"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
    Some(s"""WITH d AS (SELECT lang,
              ${Portable.textSql.h60("CAST(doc_id AS VARCHAR)")} % 10 AS bucket,
              CAST(len(${Portable.textSql.tokensLower}) AS BIGINT) AS n_tok
            FROM documents)
            SELECT lang,
              CASE WHEN bucket < 8 THEN 'train'
                   WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
              COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM d GROUP BY 1, 2"""))

  /** Tokenizer-coverage audit (OOV rate): per doc, the fraction of
    * tokens OUTSIDE the corpus's own top-100 vocabulary, in exact
    * fixed point — the audit run before committing to a vocabulary /
    * tokenizer (a high-OOV slice is where a fixed vocab bleeds into
    * <unk>). Vocabulary = frequency heavy hitters with deterministic
    * ties (count desc, term asc).
    *
    * Scale shape: the vocab is the `t_wordcount` aggregate + a
    * 100-row TakeOrdered, broadcast back; the per-doc pass is one
    * explode + a left join against the broadcast vocab + one doc-key
    * aggregate. The corpus shuffles its (doc, term-hit) flags once;
    * at a fixed vocab (the production case) the first aggregate
    * disappears entirely.
    */
  val oovRate: QueryDef = QueryDef(
    "t_oov_rate",
    (s, dir) => {
      val tk = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("term"))
      val vocab = broadcast(tk.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(100)
        .select(col("term"), lit(1L).as("in_vocab")))
      tk.join(vocab, Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          expr("(n_oov * 1000) div n_tok").as("oov_x1000"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, unnest(${Portable.textSql.tokensLower}) AS term
              FROM documents),
            vocab AS (SELECT term FROM (
                SELECT term, COUNT(*) AS cnt FROM tk GROUP BY 1) t
              ORDER BY cnt DESC, term LIMIT 100),
            d AS (SELECT tk.doc_id,
                COUNT(*) AS n_tok,
                CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
              FROM tk LEFT JOIN vocab v ON tk.term = v.term GROUP BY 1)
            SELECT doc_id, n_tok, n_oov, (n_oov * 1000) // n_tok AS oov_x1000
            FROM d"""))

  /** Corpus drift report — the distribution-shift audit between a
    * BASELINE slice and a CANDIDATE slice (here the even/odd doc_id
    * halves standing in for two crawls; production: two snapshot
    * versions): n_chars bucketed into the BASELINE's own deciles
    * (discrete order statistics — bound k = the value at rank
    * (n·k) DIV 10, deterministic under ties), both slices counted per
    * bucket, and the per-bucket proportion gap |Δ|·1000 reported in
    * exact fixed point. Σ|Δ|/2 over buckets is total-variation
    * distance — the ln-free, integer-exact drift score (PSI's ln is
    * not bit-portable across engines; TVD is the monotone core).
    *
    * Scale shape: decile bounds come from GROUPED-VALUE rank
    * arithmetic — the baseline collapses to (n_chars, count) cells
    * with map-side combine, the cumulative runs over the
    * DISTINCT-value frame only (never a row-per-doc single-task
    * sort), and each of the ≤ 9 distinct target ranks reads its value
    * off the cell whose cumulative span covers it — collected as a
    * ≤ 9-element broadcast array; bucketing is a map-side
    * filter-count against that array; one tiny bucket aggregate ends
    * the plan. Output = ≤ 10 rows.
    */
  val corpusDrift: QueryDef = QueryDef(
    "t_corpus_drift",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), (col("doc_id") % 2 === 0).as("is_base"))
      val base = d.where(col("is_base"))
      // (value, count) cells + inclusive cumulative over distinct values;
      // the doc_id tie-break of the rank form cannot change WHICH value
      // sits at a global rank, so rank → value reads off the spans.
      // One element per DISTINCT target rank (two deciles landing on
      // the same rank contribute one row, as the rn-IN-set form did).
      val cells = base.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(W.orderBy(col("n_chars"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      val ranks = base.agg(count(lit(1)).as("n"))
        .select(explode(array_distinct(
          array((1 to 9).map(k => expr(s"(n * $k) div 10")): _*))).as("r"))
        .where(col("r") >= 1)
      val bounds = broadcast(cells.join(broadcast(ranks),
          col("cum") - col("cnt") < col("r") && col("r") <= col("cum"))
        .agg(sort_array(collect_list(col("n_chars"))).as("bs")))
      val counts = d.crossJoin(bounds)
        .select(col("is_base"),
          size(filter(col("bs"), b => col("n_chars") > b)).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
          sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cand"))
      val tots = broadcast(counts.agg(sum(col("n_base")).as("tb"), sum(col("n_cand")).as("tc")))
      counts.crossJoin(tots)
        .select(col("bucket"), col("n_base"), col("n_cand"),
          expr("(n_base * 1000) div nullif(tb, 0)").as("p_base_x1000"),
          expr("(n_cand * 1000) div nullif(tc, 0)").as("p_cand_x1000"),
          abs(expr("(n_base * 1000) div nullif(tb, 0)") -
            expr("(n_cand * 1000) div nullif(tc, 0)"))
            .as("absdiff_x1000"))
    },
    Some("""WITH d AS (SELECT doc_id, n_chars, doc_id % 2 = 0 AS is_base FROM documents),
            r AS (SELECT n_chars,
                CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
                COUNT(*) OVER () AS n
              FROM d WHERE is_base),
            bs AS (SELECT list_sort(list(n_chars)) AS bs FROM r
              WHERE rn IN ((n*1)//10, (n*2)//10, (n*3)//10, (n*4)//10, (n*5)//10,
                           (n*6)//10, (n*7)//10, (n*8)//10, (n*9)//10)),
            c AS (SELECT CAST(len(list_filter(bs.bs, b -> d.n_chars > b)) AS BIGINT) AS bucket,
                CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cand
              FROM d CROSS JOIN bs GROUP BY 1),
            t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
                CAST(SUM(n_cand) AS BIGINT) AS tc FROM c)
            SELECT bucket, n_base, n_cand,
              (n_base * 1000) // NULLIF(tb, 0) AS p_base_x1000,
              (n_cand * 1000) // NULLIF(tc, 0) AS p_cand_x1000,
              ABS((n_base * 1000) // NULLIF(tb, 0) - (n_cand * 1000) // NULLIF(tc, 0)) AS absdiff_x1000
            FROM c CROSS JOIN t"""))

  /** The CURATION capstone — this round's operators fused into the
    * one plan a data team would actually ship, proving they COMPOSE:
    * per-source quality calibration (keep each source's top-40 % by
    * percentile rank — `t_quality_calibrated`'s gate) → per-domain
    * √-caps on the survivors (`t_source_caps`' damping, re-counted on
    * the calibrated set) → deterministic 8/1/1 split assignment
    * (`t_train_test_split`'s content-independent key hash) → the
    * per-(lang, split) interleave position key
    * (`t_mixture_interleave`'s manifest). Output: one manifest row
    * per surviving doc — exactly what a trainer's loader reads.
    *
    * Scale shape: Catalyst fuses the calibration and cap stages onto
    * ONE source-keyed exchange (two in-partition sorts — rank by
    * quality, then re-rank the survivors), the split hash is
    * map-side, and the interleave adds one (lang, split)-keyed
    * exchange: the corpus shuffles twice end to end, both times on
    * bounded keys, with only tiny count frames broadcast between
    * stages.
    */
  val pipelineCuration: QueryDef = QueryDef(
    "t_pipeline_curation",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val bySrcQuality = W.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      // stage 1: per-source percentile-rank calibration, top 40 %
      val calibrated = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(bySrcQuality).cast("long"))
        .withColumn("n_s", count(lit(1)).over(W.partitionBy("source")))
        .where(expr(
          "case when n_s > 1 then ((rk - 1) * 1000000) div (n_s - 1) else 0 end")
          <= 400000)
        .drop("rk", "n_s")
      // stage 2: sqrt caps re-counted on the calibrated survivors
      val capped = calibrated
        .withColumn("rk2", row_number().over(bySrcQuality).cast("long"))
        .withColumn("n_c", count(lit(1)).over(W.partitionBy("source")))
        .where(col("rk2") <= ceil(sqrt(col("n_c").cast("double"))).cast("long"))
        .drop("rk2", "n_c")
      // stage 3: content-independent split hash
      val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(10L))
      val split = capped.withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
      // stage 4: interleave position key within (lang, split)
      val byPriority = W.partitionBy("lang", "split")
        .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8), col("doc_id"))
      split
        .withColumn("r", row_number().over(byPriority).cast("long"))
        .withColumn("n_ls", count(lit(1)).over(W.partitionBy("lang", "split")))
        .select(col("doc_id"), col("lang"), col("source"), col("split"),
          expr("((r - 1) * 1000000000) div n_ls").as("pos"))
    },
    Some(s"""WITH cal AS (SELECT doc_id, lang, source, n_chars FROM (
                SELECT doc_id, lang, source, n_chars,
                  CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk,
                  COUNT(*) OVER (PARTITION BY source) AS n_s
                FROM documents) t
              WHERE CASE WHEN n_s > 1 THEN ((rk - 1) * 1000000) // (n_s - 1)
                ELSE 0 END <= 400000),
            cap AS (SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source,
                  CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk2,
                  COUNT(*) OVER (PARTITION BY source) AS n_c
                FROM cal) t
              WHERE rk2 <= CAST(CEIL(SQRT(n_c)) AS BIGINT)),
            sp AS (SELECT doc_id, lang, source,
                CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                     ELSE 'test' END AS split
              FROM (SELECT *, ${Portable.textSql.h60("CAST(doc_id AS VARCHAR)")} % 10 AS b
                    FROM cap) t)
            SELECT doc_id, lang, source, split,
              ((CAST(ROW_NUMBER() OVER (PARTITION BY lang, split
                  ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
                  AS BIGINT) - 1) * 1000000000)
                // (COUNT(*) OVER (PARTITION BY lang, split)) AS pos
            FROM sp"""))

  /** Dictionary / label encoding (the StringIndexer shape): each
    * categorical column gets a dense integer code book ordered by
    * (frequency desc, value) — the densest codes go to the hottest
    * values, ties broken lexically so the mapping is deterministic —
    * and every doc is encoded through a broadcast join. The
    * feature-encoding step before any model training or dictionary-
    * compressed export.
    *
    * Scale shape: each code book is one map-side-combined count over
    * the column + a rank over the CARDINALITY-sized frame (languages,
    * sources — never the corpus; a data-sized cardinality would use
    * the hash-bucket trick of `t_quality_classifier` instead); the
    * encode pass is two broadcast joins, zero corpus shuffles.
    */
  val labelEncode: QueryDef = QueryDef(
    "t_label_encode",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
      def dict(c: String) = broadcast(
        d.groupBy(col(c).as("value")).agg(count(lit(1)).as("freq"))
          .withColumn("code",
            (row_number().over(W.orderBy(col("freq").desc, col("value"))) - 1)
              .cast("long"))
          .select(col("value").as(s"${c}_v"), col("code").as(s"${c}_code")))
      d.select(col("doc_id"), col("lang"), col("source"))
        .join(dict("lang"), col("lang") === col("lang_v"))
        .join(dict("source"), col("source") === col("source_v"))
        .select(col("doc_id"), col("lang"), col("lang_code"),
          col("source"), col("source_code"))
    },
    Some("""WITH lc AS (SELECT lang AS v,
              CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang) - 1 AS BIGINT) AS code
              FROM documents GROUP BY lang),
            sc AS (SELECT source AS v,
              CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source) - 1 AS BIGINT) AS code
              FROM documents GROUP BY source)
            SELECT d.doc_id, d.lang, lc.code AS lang_code,
              d.source, sc.code AS source_code
            FROM documents d JOIN lc ON d.lang = lc.v
              JOIN sc ON d.source = sc.v"""))

  /** Readability scoring (Flesch reading-ease shape) — the classic
    * document-difficulty heuristic over surface counts: words
    * (whitespace tokens), sentences (terminal-punctuation runs, floor
    * 1), and syllables approximated by VOWEL GROUPS (maximal
    * `[aeiou]+` runs — the standard dictionary-free estimator). The
    * score is the Flesch formula in exact fixed point:
    * `206835 − 1015·(words div sentences·scale) − 84600·(syl div
    * words·scale)` with integer DIV throughout, so both engines agree
    * bit-for-bit (the float formula would diverge in rounding). Vowel
    * groups are counted without a regex-match API shared across
    * engines: `len(replace groups with 1 char) − len(remove groups)`
    * — two global regexp_replace passes, identical semantics.
    *
    * Scale shape: per-document map work (three regexp passes over the
    * text, zero shuffles), then ONE per-source aggregate of four
    * integers. This is the profile a quality gate wants: the corpus
    * is touched once, the report is #sources rows.
    */
  val readability: QueryDef = QueryDef(
    "t_readability",
    (s, dir) => {
      val l = lower(col("text"))
      val words = size(filter(split(l, " "), t => t =!= "")).cast("long")
      val sentences = greatest(lit(1L),
        (length(regexp_replace(l, "[.!?]+", "#")) -
          length(regexp_replace(l, "[.!?]+", ""))).cast("long"))
      val syllables = (length(regexp_replace(l, "[aeiou]+", "a")) -
        length(regexp_replace(l, "[aeiou]+", ""))).cast("long")
      Tables.load(s, dir, "documents")
        .select(col("source"), words.as("w"), sentences.as("st"), syllables.as("sy"))
        .where(col("w") > 0)
        .withColumn("flesch_x1000",
          lit(206835L) - expr("1015 * ((w * 1000) div st) div 1000")
            - expr("84600 * ((sy * 1000) div w) div 1000"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(flesch_x1000) div count(1)").as("avg_flesch_x1000"),
          min(col("flesch_x1000")).as("min_flesch_x1000"),
          max(col("flesch_x1000")).as("max_flesch_x1000"))
    },
    Some("""WITH d AS (SELECT source, lower(text) AS l FROM documents),
            c AS (SELECT source,
                CAST(len(list_filter(string_split(l, ' '), x -> x <> '')) AS BIGINT) AS w,
                GREATEST(1, CAST(length(regexp_replace(l, '[.!?]+', '#', 'g'))
                  - length(regexp_replace(l, '[.!?]+', '', 'g')) AS BIGINT)) AS st,
                CAST(length(regexp_replace(l, '[aeiou]+', 'a', 'g'))
                  - length(regexp_replace(l, '[aeiou]+', '', 'g')) AS BIGINT) AS sy
              FROM d),
            f AS (SELECT source,
                206835 - 1015 * ((w * 1000) // st) // 1000
                  - 84600 * ((sy * 1000) // w) // 1000 AS flesch_x1000
              FROM c WHERE w > 0)
            SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(flesch_x1000) AS BIGINT) // COUNT(*) AS avg_flesch_x1000,
              MIN(flesch_x1000) AS min_flesch_x1000,
              MAX(flesch_x1000) AS max_flesch_x1000
            FROM f GROUP BY 1"""))

  /** Exact global 1-based rank over (score DESC, doc_id ASC) with NO
    * single-task sort: docs collapse to (score, count) cells with
    * map-side combine, the cumulative-before offset is a window over
    * the DISTINCT-score frame only, and each doc's rank = offset +
    * its row_number WITHIN its score partition (a window distributed
    * across score groups). Input must carry (doc_id, pos, score);
    * output adds `rn` (global rank), `n` (total rows), `p` (total
    * positives) — the exact values the single-task
    * `row_number() OVER (ORDER BY score DESC, doc_id)` form yields,
    * at any corpus size.
    */
  private def rankByScoreDesc(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cells = scored.groupBy("score").agg(count(lit(1)).as("s_cnt"))
      .withColumn("cum_before",
        coalesce(sum(col("s_cnt")).over(W.orderBy(col("score").desc)
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("score"), col("cum_before"))
    val tot = broadcast(scored.agg(count(lit(1)).as("n"), sum(col("pos")).as("p")))
    scored
      .withColumn("rk_in", row_number().over(
        W.partitionBy("score").orderBy("doc_id")).cast("long"))
      .join(cells, "score")
      .withColumn("rn", col("cum_before") + col("rk_in"))
      .crossJoin(tot)
  }

  /** Classifier DECILE-LIFT evaluation — the standard triage report
    * for a ranking model: documents ordered by the hashing-trick
    * classifier score (`t_quality_classifier`'s exact-integer scorer)
    * are cut into 10 equal-population deciles (rank arithmetic, not
    * ntile — `(rank−1)·10 div n + 1` is engine-exact), and each
    * decile reports its positive rate against the base rate as
    * lift ×1000 plus its share of all positives as capture ×1000. "Positive" here is
    * lang='en' — the label the synthetic scorer is being audited
    * against; any boolean column slots in.
    *
    * Scale shape: scoring is per-doc map work; the global rank is
    * decomposed into GROUPED-SCORE rank arithmetic (the `t_eval_auc`
    * shape): docs collapse to (score, count) cells with map-side
    * combine, the cumulative-before offset runs over the
    * DISTINCT-score frame, and each doc's exact rank = offset +
    * row_number within its score PARTITION (distributed across score
    * groups — no single-task sort of the corpus anywhere in the
    * plan); the report collapses to 10 rows in one aggregate, totals
    * ride a 1-row broadcast.
    */
  val classifierLift: QueryDef = {
    val (sparkW, duckW) = (classifierSparkW, classifierDuckW)
    QueryDef(
      "t_classifier_lift",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val tk = filter(split(lower(col("text")), " "), t => t =!= "")
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("pos"), tk.as("tk"))
          .where(size(col("tk")) > 0)
          .select(col("doc_id"), col("pos"),
            expr(s"aggregate(tk, 0L, (acc, t) -> acc + ($sparkW))").as("score"))
        val ranked = rankByScoreDesc(scored)
          .withColumn("decile", expr("(rn - 1) * 10 div n + 1"))
        ranked.groupBy("decile")
          .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
            max(col("n")).as("n"), max(col("p")).as("p"))
          .select(col("decile"), col("n_docs"), col("n_pos"),
            // zero-positive corpus: lift/capture undefined -> NULL
            expr("case when p > 0 then (n_pos * n * 1000) div (n_docs * p) end")
              .as("lift_x1000"),
            expr("case when p > 0 then (n_pos * 1000) div p end")
              .as("capture_x1000"))
      },
      Some(s"""WITH tk AS (SELECT doc_id,
                CAST(lang = 'en' AS BIGINT) AS pos,
                ${Portable.textSql.tokensLower} AS tk FROM documents),
              sc AS (SELECT doc_id, pos,
                  CAST(list_sum(list_transform(tk, t -> $duckW)) AS BIGINT) AS score
                FROM tk WHERE len(tk) > 0),
              r AS (SELECT doc_id, pos, score,
                  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rn,
                  COUNT(*) OVER () AS n, SUM(pos) OVER () AS p FROM sc),
              d AS (SELECT (rn - 1) * 10 // n + 1 AS decile, pos, n, p FROM r)
              SELECT decile, COUNT(*) AS n_docs,
                CAST(SUM(pos) AS BIGINT) AS n_pos,
                CASE WHEN MAX(p) > 0 THEN CAST((CAST(SUM(pos) AS BIGINT) * MAX(n) * 1000)
                  // (COUNT(*) * CAST(MAX(p) AS BIGINT)) AS BIGINT) END AS lift_x1000,
                CASE WHEN MAX(p) > 0 THEN CAST((CAST(SUM(pos) AS BIGINT) * 1000)
                  // CAST(MAX(p) AS BIGINT) AS BIGINT) END AS capture_x1000
              FROM d GROUP BY 1"""))
  }

  /** Classifier CALIBRATION curve + Brier decomposition — the
    * companion readout to `t_classifier_lift` (ranking quality) and
    * `t_eval_auc` (discrimination): whether the classifier's scores
    * can be TRUSTED as probabilities. Scores map to rank-based
    * probabilities p̂ = ((n − rank)·1000 + 500) div n (the midpoint
    * quantile transform — monotone, exact-integer, engine-portable,
    * the only calibration-free probability a raw margin score admits),
    * then per score-decile: mean predicted ×1000 vs observed positive
    * rate ×1000, their gap (the reliability-diagram deviation), and
    * the decile's Brier error sum Σ(p̂ − 1000·y)² — exact integers, so
    * the full reliability diagram is hash-oracled.
    *
    * Scale shape: identical to `t_classifier_lift` — one score pass,
    * then GROUPED-SCORE rank arithmetic ([[rankByScoreDesc]]:
    * distinct-score cumulative offsets + per-score-partition
    * row_numbers, no single-task corpus sort), one 10-group
    * aggregate.
    */
  val calibrationCurve: QueryDef = {
    val (sparkW, duckW) = (classifierSparkW, classifierDuckW)
    QueryDef(
      "t_calibration_curve",
      (s, dir) => {
        val tk = filter(split(lower(col("text")), " "), t => t =!= "")
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("pos"), tk.as("tk"))
          .where(size(col("tk")) > 0)
          .select(col("doc_id"), col("pos"),
            expr(s"aggregate(tk, 0L, (acc, t) -> acc + ($sparkW))").as("score"))
        rankByScoreDesc(scored)
          .withColumn("phat", expr("((n - rn) * 1000 + 500) div n"))
          .withColumn("decile", expr("(rn - 1) * 10 div n + 1"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
            sum(col("phat")).as("sp"),
            sum(expr("(phat - 1000 * pos) * (phat - 1000 * pos)")).as("brier_sum_x1e6"))
          .select(col("decile"), col("n_docs"), col("n_pos"),
            expr("sp div n_docs").as("pred_x1000"),
            expr("(n_pos * 1000) div n_docs").as("obs_x1000"),
            expr("abs(sp div n_docs - (n_pos * 1000) div n_docs)").as("gap_x1000"),
            col("brier_sum_x1e6"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS pos,
              ${Portable.textSql.tokensLower} AS tk FROM documents),
            sc AS (SELECT doc_id, pos,
                CAST(list_sum(list_transform(tk, t -> $duckW)) AS BIGINT) AS score
              FROM tk WHERE len(tk) > 0),
            r AS (SELECT doc_id, pos, score,
                CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rn,
                COUNT(*) OVER () AS n FROM sc),
            d AS (SELECT (rn - 1) * 10 // n + 1 AS decile, pos,
                ((n - rn) * 1000 + 500) // n AS phat FROM r)
            SELECT decile, COUNT(*) AS n_docs, CAST(SUM(pos) AS BIGINT) AS n_pos,
              CAST(SUM(phat) AS BIGINT) // COUNT(*) AS pred_x1000,
              (CAST(SUM(pos) AS BIGINT) * 1000) // COUNT(*) AS obs_x1000,
              ABS(CAST(SUM(phat) AS BIGINT) // COUNT(*)
                - (CAST(SUM(pos) AS BIGINT) * 1000) // COUNT(*)) AS gap_x1000,
              CAST(SUM((phat - 1000 * pos) * (phat - 1000 * pos)) AS BIGINT) AS brier_sum_x1e6
            FROM d GROUP BY 1"""))
  }

  /** Heavy hitters via the native Misra-Gries sketch
    * ([[graft.functions.FreqSketch]]) audited against exact counts —
    * the one-pass frequent-items path a 100 TB vocabulary scan uses
    * (the exact groupBy shuffles the whole vocabulary; the sketch
    * shuffles ≤ k counters per partition). Output = the exact top-20
    * terms plus three BOOLEAN verdicts that are theorem-guaranteed
    * under any merge order (present above the N/(k+1) threshold,
    * undercount-only, error ≤ N div (k+1)) — the
    * `q_approx_stats` bounds-oracle convention: exacts + flags are
    * deterministic, the sketch's internal estimates need not be.
    */
  val heavyHitters: QueryDef = {
    val K = 32
    QueryDef(
      "t_heavy_hitters",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val terms = Tables.load(s, dir, "documents")
          .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("term"))
        val sk = terms.agg(
          graft.functions.Sketches.freqSketch(col("term"), K).as("sk"),
          count(lit(1)).as("n_terms"))
        val exact = terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
          .withColumn("rk", row_number().over(
            W.orderBy(col("exact_cnt").desc, col("term"))).cast("long"))
          .where(col("rk") <= 20)
        exact.crossJoin(broadcast(sk))
          .withColumn("est",
            expr("coalesce(filter(sk, x -> x.term = term)[0].est, cast(0 as bigint))"))
          .select(col("rk"), col("term"), col("exact_cnt"),
            (col("exact_cnt") * (K + 1) <= col("n_terms") || col("est") > 0)
              .as("present_ok"),
            (col("est") <= col("exact_cnt")).as("undercount_ok"),
            (col("exact_cnt") - col("est") <= expr(s"n_terms div ${K + 1}"))
              .as("bound_ok"))
      },
      Some(s"""WITH t AS (SELECT
                unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
              FROM documents),
              e AS (SELECT term, COUNT(*) AS exact_cnt FROM t GROUP BY 1),
              r AS (SELECT term, exact_cnt,
                  CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, term) AS BIGINT) AS rk
                FROM e)
              SELECT rk, term, exact_cnt, TRUE AS present_ok,
                TRUE AS undercount_ok, TRUE AS bound_ok
              FROM r WHERE rk <= 20"""))
  }

  /** Per-GROUP heavy hitters — `t_heavy_hitters`' audit run per
    * language: one `graft_freq_sketch` buffer per lang in a single
    * grouped aggregate (each group's ≤ k-entry map rides the partial
    * aggregation — the per-slice vocabulary profile at 100 TB, where
    * per-group exact counts shuffle each slice's whole vocab). Output
    * = exact per-lang top-5 terms + the three theorem-guaranteed
    * verdicts against each group's OWN N and threshold.
    */
  val heavyHittersGrouped: QueryDef = {
    val K = 32
    QueryDef(
      "t_heavy_hitters_grouped",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val terms = Tables.load(s, dir, "documents")
          .select(col("lang"),
            explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("term"))
        val sk = terms.groupBy("lang").agg(
          graft.functions.Sketches.freqSketch(col("term"), K).as("sk"),
          count(lit(1)).as("n_terms"))
        val exact = terms.groupBy("lang", "term").agg(count(lit(1)).as("exact_cnt"))
          .withColumn("rk", row_number().over(
            W.partitionBy("lang").orderBy(col("exact_cnt").desc, col("term"))).cast("long"))
          .where(col("rk") <= 5)
        exact.join(sk, "lang")
          .withColumn("est",
            expr("coalesce(filter(sk, x -> x.term = term)[0].est, cast(0 as bigint))"))
          .select(col("lang"), col("rk"), col("term"), col("exact_cnt"),
            (col("exact_cnt") * (K + 1) <= col("n_terms") || col("est") > 0)
              .as("present_ok"),
            (col("est") <= col("exact_cnt")).as("undercount_ok"),
            (col("exact_cnt") - col("est") <= expr(s"n_terms div ${K + 1}"))
              .as("bound_ok"))
      },
      Some(s"""WITH t AS (SELECT lang,
                unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
              FROM documents),
              e AS (SELECT lang, term, COUNT(*) AS exact_cnt FROM t GROUP BY 1, 2),
              r AS (SELECT lang, term, exact_cnt,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY exact_cnt DESC, term) AS BIGINT) AS rk
                FROM e)
              SELECT lang, rk, term, exact_cnt, TRUE AS present_ok,
                TRUE AS undercount_ok, TRUE AS bound_ok
              FROM r WHERE rk <= 5"""))
  }

  /** Quality-ENSEMBLE gate — the single keep/drop decision a filtering
    * pipeline actually ships, with per-reason flags (observability:
    * "how many docs died, and why" — a pipeline that only emits `keep`
    * can't be tuned): too-short/too-long token counts, low stopword
    * density, implausible average token length, and exact-duplicate
    * non-canonical copies (the md5-fingerprint group's min doc_id
    * survives). Every flag is integer arithmetic (ratio thresholds
    * cross-multiplied — `n_stop·100 < n_tokens·5` instead of a float
    * divide), so the verdict is bit-identical in both engines.
    *
    * Scale shape: flags are per-doc map work off one projection; the
    * only shuffle is the fingerprint window for dup detection (16-byte
    * keys, the `d_dedup_exact` shape). Reason rollups are a trivial
    * downstream aggregate of the booleans.
    */
  val qualityEnsemble: QueryDef = QueryDef(
    "t_quality_ensemble",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
      val nChars = length(col("text")).cast("long")
      val nTokens = ((nChars - length(replace(col("text"), lit(" "), lit("")))) + 1)
      val nStop = score(col("text"), Seq("the", "a", "and", "of")).cast("long")
      val fpw = W.partitionBy("fp")
      d.select(col("doc_id"), md5(col("text")).as("fp"),
          nChars.as("nc"), nTokens.cast("long").as("nt"), nStop.as("ns"))
        .withColumn("n_copies", count(lit(1)).over(fpw))
        .withColumn("keeper", min(col("doc_id")).over(fpw))
        .select(col("doc_id"),
          (col("nt") < 10).as("too_short"),
          (col("nt") > 5000).as("too_long"),
          (col("ns") * 100 < col("nt") * 5).as("low_stopword"),
          ((col("nc") - (col("nt") - 1)) < col("nt") * 2 ||
            (col("nc") - (col("nt") - 1)) > col("nt") * 10).as("bad_token_len"),
          (col("n_copies") > 1 && col("doc_id") =!= col("keeper")).as("dup_nonkeep"))
        .withColumn("keep",
          !(col("too_short") || col("too_long") || col("low_stopword") ||
            col("bad_token_len") || col("dup_nonkeep")))
    },
    Some {
      val p = "(' ' || lower(text) || ' ')"
      val stop = sqlScore(p, Seq("the", "a", "and", "of"))
      s"""WITH b AS (SELECT doc_id, md5(text) AS fp,
            CAST(LENGTH(text) AS BIGINT) AS nc,
            CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS nt,
            CAST($stop AS BIGINT) AS ns
          FROM documents),
          w AS (SELECT *, COUNT(*) OVER (PARTITION BY fp) AS n_copies,
            MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM b),
          f AS (SELECT doc_id,
            nt < 10 AS too_short, nt > 5000 AS too_long,
            ns * 100 < nt * 5 AS low_stopword,
            ((nc - (nt - 1)) < nt * 2 OR (nc - (nt - 1)) > nt * 10) AS bad_token_len,
            (n_copies > 1 AND doc_id <> keeper) AS dup_nonkeep
          FROM w)
          SELECT *, NOT (too_short OR too_long OR low_stopword OR bad_token_len
            OR dup_nonkeep) AS keep
          FROM f"""
    })

  /** Exact ROC AUC of the hashing-trick classifier score against the
    * lang='en' label — the threshold-free summary next to
    * [[classifierLift]]'s decile report, computed as the tie-aware
    * rank statistic (Mann-Whitney U with average ranks) in EXACT
    * integer arithmetic: per distinct score, positives contribute
    * `p_at·(2·cnt_less + n_at + 1)` to twice-the-rank-sum R2, and
    * `AUC = (R2 − p(p+1)) / (2·p·n_neg)` ships ×1000 by integer
    * division (plus the equivalent Gini = 2·AUC − 1). No float ever
    * forms, so both engines agree bit-for-bit even under heavy score
    * ties.
    *
    * Scale shape: scoring is per-doc map work; ranks come from ONE
    * groupBy on score plus an ordered prefix-sum window over the
    * DISTINCT scores (≤ score-cardinality rows — the corpus itself is
    * never globally sorted, unlike the decile report); output is one
    * row.
    */
  /** Exact tie-aware ROC AUC of a (pos, score) frame — the reusable
    * core of [[evalAuc]] (property-tested against brute-force pair
    * concordance in RandomizedSpec). Columns in: `pos` (0/1 long),
    * `score` (long). Out: one row (n, n_pos, n_neg, auc_x1000,
    * gini_x1000). Requires at least one positive AND one negative.
    */
  def aucOf(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    scored.groupBy("score")
      .agg(count(lit(1)).as("n_at"), sum(col("pos")).as("p_at"))
      .withColumn("cum", sum(col("n_at")).over(W.orderBy(col("score"))))
      .select(col("n_at"), col("p_at"),
        (col("p_at") * (lit(2) * (col("cum") - col("n_at")) + col("n_at") + 1))
          .as("r2c"))
      .agg(sum(col("n_at")).as("n_docs"), sum(col("p_at")).as("n_pos"),
        sum(col("r2c")).as("r2"))
      .select(col("n_docs"), col("n_pos"), (col("n_docs") - col("n_pos")).as("n_neg"),
        // AUC is undefined without at least one positive AND one
        // negative (one-class corpus) — NULL, not a crash
        expr("""case when n_pos > 0 and n_docs > n_pos
          then ((r2 - n_pos * (n_pos + 1)) * 500) div (n_pos * (n_docs - n_pos)) end""")
          .as("auc_x1000"),
        expr("""case when n_pos > 0 and n_docs > n_pos
          then ((r2 - n_pos * (n_pos + 1)) * 1000) div (n_pos * (n_docs - n_pos)) - 1000 end""")
          .as("gini_x1000"))
  }

  val evalAuc: QueryDef = {
    val (sparkW, duckW) = (classifierSparkW, classifierDuckW)
    QueryDef(
      "t_eval_auc",
      (s, dir) => {
        val tk = filter(split(lower(col("text")), " "), t => t =!= "")
        aucOf(Tables.load(s, dir, "documents")
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("pos"), tk.as("tk"))
          .where(size(col("tk")) > 0)
          .select(col("pos"),
            expr(s"aggregate(tk, 0L, (acc, t) -> acc + ($sparkW))").as("score")))
      },
      Some(s"""WITH tk AS (SELECT CAST(lang = 'en' AS BIGINT) AS pos,
                ${Portable.textSql.tokensLower} AS tk FROM documents),
              sc AS (SELECT pos,
                  CAST(list_sum(list_transform(tk, t -> $duckW)) AS BIGINT) AS score
                FROM tk WHERE len(tk) > 0),
              g AS (SELECT score, COUNT(*) AS n_at, CAST(SUM(pos) AS BIGINT) AS p_at
                FROM sc GROUP BY 1),
              c AS (SELECT n_at, p_at,
                  p_at * (2 * (CAST(SUM(n_at) OVER (ORDER BY score) AS BIGINT) - n_at)
                    + n_at + 1) AS r2c
                FROM g),
              m AS (SELECT CAST(SUM(n_at) AS BIGINT) AS n_docs,
                  CAST(SUM(p_at) AS BIGINT) AS n_pos,
                  CAST(SUM(r2c) AS BIGINT) AS r2 FROM c)
              SELECT n_docs, n_pos, n_docs - n_pos AS n_neg,
                CASE WHEN n_pos > 0 AND n_docs > n_pos THEN
                  ((r2 - n_pos * (n_pos + 1)) * 500) // (n_pos * (n_docs - n_pos))
                END AS auc_x1000,
                CASE WHEN n_pos > 0 AND n_docs > n_pos THEN
                  ((r2 - n_pos * (n_pos + 1)) * 1000) // (n_pos * (n_docs - n_pos)) - 1000
                END AS gini_x1000
              FROM m"""))
  }

  /** K-ANONYMITY audit over quasi-identifiers — the privacy-risk
    * report a release gate runs before publishing a corpus: rows
    * grouped by the QI tuple (lang, source, length bucket), and the
    * resulting group-size distribution histogrammed (how many groups /
    * rows sit at each anonymity level k, flagged below the
    * conventional k < 5 threshold). A row in a size-1 group is unique
    * on its quasi-identifiers — directly re-identifiable.
    *
    * Scale shape: ONE shuffle into QI cells, then a tiny aggregate of
    * the group sizes (≤ distinct-k rows). The same two-aggregate
    * cascade at any corpus size; nothing driver-side.
    */
  val kAnonymity: QueryDef = QueryDef(
    "t_k_anonymity",
    (s, dir) => {
      val groups = Tables.load(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 500").as("len_bucket"))
        .agg(count(lit(1)).as("k"))
      groups.groupBy("k")
        .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"))
        .select(col("k"), col("n_groups"), col("n_rows"),
          (col("k") < 5).as("at_risk"))
    },
    Some("""WITH g AS (SELECT lang, source, n_chars // 500 AS len_bucket,
              COUNT(*) AS k
            FROM documents GROUP BY 1, 2, 3)
            SELECT k, COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_rows,
              k < 5 AS at_risk
            FROM g GROUP BY 1"""))

  /** VOCABULARY-GROWTH curve (Heaps' law) — the tokenizer-budget read
    * `t_token_coverage`'s mass curve cannot give: how fast does the
    * DISTINCT vocabulary grow as the corpus grows? Documents are
    * split into ten ingest-order deciles (rank arithmetic, never
    * ntile), every word maps to the decile of its FIRST occurrence,
    * and the output is the cumulative vocabulary after each decile
    * plus the new-word count that decile contributed. A curve still
    * rising steeply at 100% means the corpus has not saturated its
    * domain and the vocab budget is underestimated. Exact integers
    * end to end.
    *
    * Scale shape: the docs ranking is one window over the doc-id
    * order (range-repartition + [[graft.operators.Extended]]'s
    * globalPrefixSum form at corpus scale); words reduce to (word,
    * min doc) with map-side combine; the decile rollup and cumsum
    * run on 10 rows.
    */
  val vocabGrowth: QueryDef = QueryDef(
    "t_vocab_growth",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val n = d.agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("lo_id"),
        max(col("doc_id")).as("hi_id"))
      // decile by ID RANGE, not row_number: a global row_number is a
      // single-task window (the exact shape q_abc_pareto exists to
      // avoid); the id-range decile is map-side against a 1-row
      // broadcast and equally faithful to ingest order
      val ranked = d.select(col("doc_id"), col("text"))
        .crossJoin(broadcast(n))
        .withColumn("dec",
          expr("((doc_id - lo_id) * 10) div (hi_id - lo_id + 1)"))
      val firstSeen = ranked
        .select(col("dec"), explode(expr(
          "filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
        .groupBy("w").agg(min(col("dec")).as("fdec"))
      val perDec = firstSeen.groupBy(col("fdec").as("decile"))
        .agg(count(lit(1)).as("new_words"))
      val docsPerDec = ranked.groupBy(col("dec").as("decile"))
        .agg(count(lit(1)).as("n_docs_dec"))
      val w10 = org.apache.spark.sql.expressions.Window.orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      docsPerDec.join(perDec, Seq("decile"), "left")
        .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
        .withColumn("n_docs_cum", sum(col("n_docs_dec")).over(w10))
        .withColumn("vocab_cum", sum(col("new_words")).over(w10))
        .select("decile", "n_docs_cum", "new_words", "vocab_cum")
    },
    Some(s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS lo_id, MAX(doc_id) AS hi_id FROM documents),
         r AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk
           FROM documents),
         dd AS (SELECT doc_id, tk,
             ((doc_id - lo_id) * 10) // (hi_id - lo_id + 1) AS dec
           FROM r CROSS JOIN n),
         fs AS (SELECT w, MIN(dec) AS fdec FROM (
             SELECT dec, unnest(tk) AS w FROM dd) x GROUP BY 1),
         pd AS (SELECT fdec AS decile, COUNT(*) AS new_words FROM fs GROUP BY 1),
         dpd AS (SELECT dec AS decile, COUNT(*) AS n_docs_dec FROM dd GROUP BY 1)
         SELECT dpd.decile,
           CAST(SUM(dpd.n_docs_dec) OVER (ORDER BY dpd.decile) AS BIGINT)
             AS n_docs_cum,
           CAST(COALESCE(pd.new_words, 0) AS BIGINT) AS new_words,
           CAST(SUM(COALESCE(pd.new_words, 0)) OVER (ORDER BY dpd.decile)
             AS BIGINT) AS vocab_cum
         FROM dpd LEFT JOIN pd ON pd.decile = dpd.decile"""))

  /** L-DIVERSITY audit — the sibling of `t_k_anonymity` that k alone
    * misses: a group can be large (k-anonymous) yet UNIFORM in its
    * sensitive attribute, so membership still leaks the secret.
    * Quasi-identifiers here are (source, length bucket); the
    * sensitive attribute is the language: l = distinct languages per
    * group, and a group with l = 1 tells an adversary who knows only
    * source+length the document's language with certainty. Rollup per
    * l: group count, doc count, at-risk flag (l < 2) — the privacy
    * release gate read next to row 63's k histogram.
    *
    * Scale shape: one grouped distinct-count shuffle on the
    * quasi-identifier key (map-side partial distinct), one ≤ langs-
    * sized rollup.
    */
  val lDiversity: QueryDef = QueryDef(
    "t_l_diversity",
    (s, dir) => {
      val groups = Tables.load(s, dir, "documents")
        .groupBy(col("source"), expr("n_chars div 500").as("len_bucket"))
        .agg(countDistinct(col("lang")).as("l"), count(lit(1)).as("n"))
      groups.groupBy("l")
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_docs"))
        .select(col("l"), col("n_groups"), col("n_docs"),
          (col("l") < 2).as("at_risk"))
    },
    Some("""WITH g AS (SELECT source, n_chars // 500 AS len_bucket,
              CAST(COUNT(DISTINCT lang) AS BIGINT) AS l, COUNT(*) AS n
            FROM documents GROUP BY 1, 2)
            SELECT l, COUNT(*) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_docs,
              l < 2 AS at_risk
            FROM g GROUP BY 1"""))

  /** BIGRAM-LM quality filter — the second-order upgrade of
    * [[qualityLm]]'s unigram surprise: per-bigram add-one-smoothed
    * inverse probability `((c1(w1)+V)·1000) DIV (c2(w1,w2)+1)` (c1 =
    * corpus unigram count, c2 = bigram count, V = vocabulary size —
    * the −log-free integer surprise core), a doc scored by its mean
    * bigram surprise, flagged above 1.5× the corpus mean. Catches
    * word-salad text whose unigrams are individually common (the
    * failure mode a unigram LM filter structurally misses).
    *
    * Scale shape: one bigram explode + TWO vocabulary-sized count
    * shuffles (unigram + bigram, both map-side combined), surprise
    * lookup is a shuffle-hash join on the bigram key, one per-doc
    * aggregate; V and the corpus mean ride 1-row broadcasts (the
    * corpus-mean numerator aggregates in decimal(38,0) — the
    * [[docSurprise]] overflow convention).
    */
  val qualityLmBigram: QueryDef = QueryDef(
    "t_quality_lm_bigram",
    (s, dir) => {
      val tk = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
      val uni = tk.select(col("doc_id"), explode(col("tk")).as("w"))
      val c1 = uni.groupBy("w").agg(count(lit(1)).as("c1"))
      val vocab = broadcast(c1.agg(count(lit(1)).as("v")))
      val bi = tk.where(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
             (a, b) -> named_struct('w1', a, 'w2', b))""")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val sur = c2.join(c1.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(vocab)
        .select(col("w1"), col("w2"),
          expr("((c1 + v) * 1000) div (c2 + 1)").as("sur"))
      val perDoc = bi.join(sur, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("sur")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("ssum div n_bigrams").as("sur_x1000"), col("ssum"))
      val cm = broadcast(perDoc
        .agg(sum(col("ssum").cast("decimal(38,0)")).as("sc"),
          sum(col("n_bigrams")).as("nb"))
        .select(expr("sc DIV nb").as("cm")))
      perDoc.crossJoin(cm)
        .select(col("doc_id"), col("n_bigrams"), col("sur_x1000"),
          (col("sur_x1000") * 2 > col("cm") * 3).as("high_perplexity"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk
              FROM documents),
            uni AS (SELECT doc_id, unnest(tk) AS w FROM tk),
            c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY 1),
            vv AS (SELECT COUNT(*) AS v FROM c1),
            bi AS (SELECT doc_id,
                unnest(list_transform(range(1, len(tk)), i -> tk[CAST(i AS INT)])) AS w1,
                unnest(list_transform(range(1, len(tk)), i -> tk[CAST(i + 1 AS INT)])) AS w2
              FROM tk WHERE len(tk) >= 2),
            c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
            sur AS (SELECT c2.w1, c2.w2,
                ((c1.c1 + vv.v) * 1000) // (c2.c2 + 1) AS sur
              FROM c2 JOIN c1 ON c2.w1 = c1.w FULL JOIN vv ON TRUE),
            pd AS (SELECT bi.doc_id, COUNT(*) AS n_bigrams,
                CAST(SUM(s.sur) AS BIGINT) AS ssum
              FROM bi JOIN sur s ON bi.w1 = s.w1 AND bi.w2 = s.w2
              GROUP BY 1),
            cm AS (SELECT CAST(SUM(CAST(ssum AS HUGEINT)) // SUM(n_bigrams) AS BIGINT)
                AS cm FROM pd)
            SELECT pd.doc_id, pd.n_bigrams,
              pd.ssum // pd.n_bigrams AS sur_x1000,
              (pd.ssum // pd.n_bigrams) * 2 > cm.cm * 3 AS high_perplexity
            FROM pd, cm"""))

  /** SPAN-CORRUPTION manifest (T5-style denoising pretraining) — per
    * doc, a DETERMINISTIC 15% token mask (token i masked iff
    * md5-60bit(doc_id:i) mod 100 < 15 — reproducible across re-runs
    * and engines, no RNG state to ship), adjacent masked tokens
    * coalescing into spans (a span starts where a masked position
    * follows an unmasked one). Reports per doc: tokens, masked count,
    * span count, mask rate ×1000 — the manifest a denoising trainer's
    * loader consumes, and the audit that the global mask rate actually
    * lands near the target.
    *
    * Scale shape: pure per-doc array arithmetic (one hash per token,
    * two array folds) — ZERO shuffles; the ideal 100 TB profile.
    *
    * Oracle gotcha: any outer lambda variable wrapping
    * [[Portable.textSql.h60]] must not be named `i` — the fragment's
    * inner list_transform rebinds `i` and silently shadows it.
    */
  val maskSpans: QueryDef = QueryDef(
    "t_mask_spans",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
        .where(size(col("tk")) > 0)
        .withColumn("mask", expr(
          """transform(sequence(1, size(tk)), i ->
             pmod(cast(conv(substr(md5(concat(cast(doc_id as string), ':',
               cast(i as string))), 1, 15), 16, 10) as bigint), 100) < 15)"""))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
          expr("cast(size(filter(mask, m -> m)) as bigint)").as("n_masked"),
          expr("""cast(size(filter(sequence(1, size(tk)), i ->
            mask[i - 1] AND (i = 1 OR NOT mask[i - 2]))) as bigint)""").as("n_spans"))
        .withColumn("mask_rate_x1000", expr("(n_masked * 1000) div n_tok"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${Portable.textSql.tokensLower} AS tk
              FROM documents),
            m AS (SELECT doc_id, len(tk) AS n_tok,
                list_transform(range(1, len(tk) + 1), p ->
                  ${Portable.textSql.h60("concat(CAST(doc_id AS VARCHAR), ':', CAST(p AS VARCHAR))")} % 100 < 15)
                  AS mask
              FROM tk WHERE len(tk) > 0)
            SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
              CAST(len(list_filter(mask, x -> x)) AS BIGINT) AS n_masked,
              CAST(len(list_filter(range(1, n_tok + 1), i ->
                mask[CAST(i AS INT)] AND (i = 1 OR NOT mask[CAST(i - 1 AS INT)])))
                AS BIGINT) AS n_spans,
              (CAST(len(list_filter(mask, x -> x)) AS BIGINT) * 1000)
                // CAST(n_tok AS BIGINT) AS mask_rate_x1000
            FROM m"""))

  /** BPE merge-rule LEARNING (Sennrich et al. 2016) — the tokenizer-
    * training step of an LLM data pipeline, run the way the original
    * does: on the WORD-FREQUENCY DICTIONARY (top-100 vocab words with
    * counts), not the raw corpus, so each round's pair statistics
    * weigh every word by its corpus frequency while touching ≤ vocab
    * rows. Three unrolled rounds (the `s_knn_beam` convention): each
    * round counts adjacent-symbol pairs weighted by word count, picks
    * the argmax with deterministic ties (count desc, pair asc), and
    * applies the merge to every word. Merge application is THREE
    * nested space-anchored `replace` passes — replace() scans
    * left-to-right identically in both engines, and the extra passes
    * catch the alternating leftovers a single pass skips in runs
    * (documented bounded-pass variant; identical in both engines by
    * construction). Output = the 3 learned merge rules with their
    * weighted support.
    *
    * Scale shape: ONE corpus pass builds the dictionary (the
    * `t_wordcount` aggregate + top-100 TakeOrdered); every round
    * after that is an explode + aggregate over ≤ 100 dictionary rows
    * — exactly why dictionary-BPE scales where corpus-BPE cannot.
    */
  /** One unrolled BPE round in DuckDB SQL: pair counts `p{r}` over
    * `v{r-1}`, argmax `b{r}` (with or without a round label), merged
    * dictionary `v{r}` — the ONE copy both [[bpeMerges]] and
    * [[bpeEncode]] oracles compose (a drifted duplicate would let the
    * encode apply different rules than the trainer reports).
    */
  private def bpeRoundSql(r: Int, withRound: Boolean): String = {
    val bSelect =
      if (withRound) s"SELECT CAST($r AS BIGINT) AS round, l, r, wc FROM ("
      else "SELECT l, r FROM ("
    s"""p$r AS (SELECT s.l, s.r, CAST(SUM(cnt) AS BIGINT) AS wc FROM (
              SELECT cnt, unnest(list_transform(range(1, len(string_split(sym, ' '))),
                  k -> struct_pack(l := string_split(sym, ' ')[CAST(k AS INT)],
                    r := string_split(sym, ' ')[CAST(k + 1 AS INT)]))) AS s
              FROM v${r - 1}) t GROUP BY 1, 2),
            b$r AS ($bSelect
              SELECT *, ROW_NUMBER() OVER (ORDER BY wc DESC, l, r) AS rn FROM p$r) x
              WHERE rn = 1),
            v$r AS (SELECT trim(replace(replace(replace(concat(' ', sym, ' '),
                  pat, rep), pat, rep), pat, rep)) AS sym, cnt
              FROM v${r - 1}, (SELECT concat(' ', l, ' ', r, ' ') AS pat,
                  concat(' ', l, r, ' ') AS rep FROM b$r) m)"""
  }

  val bpeMerges: QueryDef = QueryDef(
    "t_bpe_merges",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      var vocab = Tables.load(s, dir, "documents")
        .select(explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(100)
        .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sym"), col("cnt"))
      var merges = Seq.empty[org.apache.spark.sql.DataFrame]
      for (round <- 1 to 3) {
        val pairs = vocab
          .select(col("cnt"), expr(
            """zip_with(slice(split(sym, ' '), 1, size(split(sym, ' ')) - 1),
               slice(split(sym, ' '), 2, size(split(sym, ' ')) - 1),
               (a, b) -> named_struct('l', a, 'r', b))""").as("ps"))
          .select(col("cnt"), explode(col("ps")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("wc"))
        val best = pairs
          .withColumn("rn", row_number().over(
            W.orderBy(col("wc").desc, col("l"), col("r"))))
          .where(col("rn") === 1)
          .select(lit(round.toLong).as("round"), col("l"), col("r"), col("wc"))
        merges = merges :+ best
        val b = broadcast(best.select(col("l").as("ml"), col("r").as("mr")))
        vocab = vocab.crossJoin(b)
          .withColumn("pat", concat(lit(" "), col("ml"), lit(" "), col("mr"), lit(" ")))
          .withColumn("rep", concat(lit(" "), col("ml"), col("mr"), lit(" ")))
          .select(trim(expr(
            """replace(replace(replace(concat(' ', sym, ' '), pat, rep),
               pat, rep), pat, rep)""")).as("sym"), col("cnt"))
          .localCheckpoint()
      }
      merges.reduce(_ unionAll _)
    },
    Some {
      def roundSql(r: Int): String = bpeRoundSql(r, withRound = true)
      s"""WITH tk AS (SELECT unnest(${Portable.textSql.tokensLower}) AS w FROM documents),
          wc AS (SELECT w, COUNT(*) AS cnt FROM tk GROUP BY 1),
          top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 100),
          v0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym, cnt FROM top),
          ${roundSql(1)}, ${roundSql(2)}, ${roundSql(3)}
          SELECT round, l, r, wc FROM b1
          UNION ALL SELECT round, l, r, wc FROM b2
          UNION ALL SELECT round, l, r, wc FROM b3"""
    })

  /** BPE ENCODE + compression report — the apply half of
    * [[bpeMerges]]'s train half, fused into one query (train →
    * broadcast rules → encode the corpus → report), proving the
    * tokenizer pipeline composes end to end. Every document is
    * symbolized and the 3 learned merges applied IN LEARNED ORDER
    * (same bounded replace passes as training); reported per source:
    * docs, original character-symbol count, post-merge symbol count,
    * and the compression ratio ×1000 — the number a tokenizer bakeoff
    * actually compares.
    *
    * Scale shape: training touches ≤ 100 dictionary rows (see
    * [[bpeMerges]]); the encode is a per-doc map pass with the 3
    * rules as a broadcast 1-row frame; the report is one (source)
    * aggregate. The corpus is read twice (dictionary + encode) —
    * same profile as any train/apply pair.
    */
  val bpeEncode: QueryDef = QueryDef(
    "t_bpe_encode",
    (s, dir) => {
      val rules = bpeMerges.fn(s, dir)
        .select(col("round"), concat(lit(" "), col("l"), lit(" "), col("r"), lit(" ")).as("pat"),
          concat(lit(" "), col("l"), col("r"), lit(" ")).as("rep"))
      // a round that learns NO rule (e.g. a corpus of single-char
      // words has no adjacent pairs) pivots to NULL pat/rep; coalesce
      // both to '' — replace(w, '', _) is the identity in BOTH engines
      // (the DuckDB twin reaches the same via COALESCE(MAX(..), '')),
      // so the missing rule encodes as a no-op instead of nulling
      // every document's encoding
      val r1 = broadcast(rules.groupBy()
        .pivot("round", Seq(1L, 2L, 3L))
        .agg(first(col("pat")).as("pat"), first(col("rep")).as("rep"))
        .select(Seq("1", "2", "3").flatMap(r => Seq(
          coalesce(col(s"$r" + "_pat"), lit("")).as(s"$r" + "_pat"),
          coalesce(col(s"$r" + "_rep"), lit("")).as(s"$r" + "_rep"))): _*))
      val docs = Tables.load(s, dir, "documents")
        .select(col("source"), expr(
          """transform(filter(split(lower(text), ' '), x -> x <> ''),
             w -> concat(' ', trim(regexp_replace(w, '(.)', '$1 ')), ' '))""").as("ws"))
      def apply3(sym: String, pat: String, rep: String): String =
        s"replace(replace(replace($sym, $pat, $rep), $pat, $rep), $pat, $rep)"
      docs.crossJoin(r1)
        .select(col("source"),
          size(col("ws")).cast("long").as("n_words"),
          expr("""aggregate(ws, 0L, (acc, w) ->
            acc + size(split(trim(w), ' ')))""").as("sym_before"),
          expr(s"""aggregate(transform(ws, w ->
            ${apply3(apply3(apply3("w", "`1_pat`", "`1_rep`"), "`2_pat`", "`2_rep`"), "`3_pat`", "`3_rep`")}),
            0L, (acc, w) -> acc + size(split(trim(w), ' ')))""").as("sym_after"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("sym_before")).as("sym_before"), sum(col("sym_after")).as("sym_after"))
        .withColumn("compression_x1000", expr("(sym_after * 1000) div sym_before"))
    },
    Some {
      def roundSql(r: Int): String = bpeRoundSql(r, withRound = false)
      def enc(w: String, r: Int): String =
        if (r == 0) w
        else s"replace(replace(replace(${enc(w, r - 1)}, m$r.pat, m$r.rep), m$r.pat, m$r.rep), m$r.pat, m$r.rep)"
      s"""WITH tk0 AS (SELECT unnest(${Portable.textSql.tokensLower}) AS w FROM documents),
          wc AS (SELECT w, COUNT(*) AS cnt FROM tk0 GROUP BY 1),
          top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 100),
          v0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym, cnt FROM top),
          ${roundSql(1)}, ${roundSql(2)}, ${roundSql(3)},
          m1 AS (SELECT COALESCE(MAX(concat(' ', l, ' ', r, ' ')), '') AS pat,
              COALESCE(MAX(concat(' ', l, r, ' ')), '') AS rep FROM b1),
          m2 AS (SELECT COALESCE(MAX(concat(' ', l, ' ', r, ' ')), '') AS pat,
              COALESCE(MAX(concat(' ', l, r, ' ')), '') AS rep FROM b2),
          m3 AS (SELECT COALESCE(MAX(concat(' ', l, ' ', r, ' ')), '') AS pat,
              COALESCE(MAX(concat(' ', l, r, ' ')), '') AS rep FROM b3),
          dw AS (SELECT source,
              list_transform(${Portable.textSql.tokensLower},
                w -> concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' ')) AS ws
            FROM documents),
          pd AS (SELECT source, CAST(len(ws) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(ws,
                w -> len(string_split(trim(w), ' ')))) AS BIGINT) AS sym_before,
              CAST(list_sum(list_transform(ws,
                w -> len(string_split(trim(${enc("w", 3)}), ' ')))) AS BIGINT) AS sym_after
            FROM dw, m1, m2, m3)
          SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_words,
            CAST(SUM(sym_before) AS BIGINT) AS sym_before,
            CAST(SUM(sym_after) AS BIGINT) AS sym_after,
            (CAST(SUM(sym_after) AS BIGINT) * 1000) // CAST(SUM(sym_before) AS BIGINT)
              AS compression_x1000
          FROM pd GROUP BY 1"""
    })

  /** TOKEN MASS COVERAGE curve — the vocabulary-sizing read a
    * tokenizer designer makes before `t_bpe_merges` runs: what share
    * of all token occurrences do the top-10 / top-100 / top-1000 types
    * cover? (Zipfian corpora concentrate mass fast; a flat curve means
    * noisy/fragmented text and a bigger vocab budget.) Per k: the
    * types actually used (min(k, vocab)), their summed occurrence
    * mass, and the coverage share ×10⁶ — all exact integers.
    *
    * Scale shape: one corpus-sized token rollup (map-side combined);
    * the ranking is TakeOrdered top-1000 (per-partition heaps), and
    * the window/joins after it run on ≤ 1000 rows. The vocab-sized
    * frame is never globally sorted.
    */
  val tokenCoverage: QueryDef = QueryDef(
    "t_token_coverage",
    (s, dir) => {
      val cnt = Tables.load(s, dir, "documents")
        .select(explode(expr(
          "filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val total = cnt.agg(sum(col("n")).cast("long").as("total"))
      val ranked = cnt.orderBy(col("n").desc, col("w")).limit(1000)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("w"))).cast("long"))
      val ks = s.range(1).select(
        explode(array(lit(10L), lit(100L), lit(1000L))).as("k"))
      ks.join(ranked, col("rn") <= col("k"))
        .crossJoin(broadcast(total))
        .groupBy("k")
        .agg(count(lit(1)).as("tokens_used"), sum(col("n")).as("mass"),
          max(col("total")).as("total_tokens"))
        .select(col("k"), col("tokens_used"), col("mass"), col("total_tokens"),
          expr("(mass * 1000000) div total_tokens").as("coverage_x1e6"))
    },
    Some("""WITH tok AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
              x -> x <> '')) AS w FROM documents),
            cnt AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY 1),
            tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt),
            rk AS (SELECT w, n,
                CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rn
              FROM cnt QUALIFY rn <= 1000),
            ks AS (SELECT CAST(UNNEST([10, 100, 1000]) AS BIGINT) AS k)
            SELECT k, COUNT(*) AS tokens_used, CAST(SUM(rk.n) AS BIGINT) AS mass,
              MAX(total) AS total_tokens,
              (CAST(SUM(rk.n) AS BIGINT) * 1000000) // MAX(total) AS coverage_x1e6
            FROM ks JOIN rk ON rk.rn <= ks.k CROSS JOIN tot GROUP BY k"""))

  /** DATASET CARD — the per-source datasheet row a corpus release
    * ships (Gebru et al.'s "Datasheets for Datasets", the summary a
    * curator reads FIRST): per source, document and size totals,
    * whitespace-token mass, mean doc length, the language mix as
    * inverse-Simpson effective languages ×1000 (the row 69 statistic
    * transposed to languages within a source), and the within-source
    * exact-duplicate count and rate ×10⁶ (docs minus distinct md5
    * texts — the row 21 signal as a per-source scalar). One table,
    * every first-order health signal.
    *
    * Scale shape: one scan folds counts/chars/tokens map-side; the
    * lang mix groups (source, lang) then sources; the dup count is a
    * distinct-texts aggregate on the md5 key — three source-keyed
    * shuffles over driver-tiny frames joined at the end.
    */
  val datasetCard: QueryDef = QueryDef(
    "t_dataset_card",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long"))
          .as("total_tokens"))
      val langs = d.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"),
          expr("(sum(nl) * sum(nl) * 1000) div sum(nl * nl)")
            .as("eff_langs_x1000"))
      val dups = d.groupBy("source")
        .agg((count(lit(1)) - countDistinct(md5(col("text")))).as("exact_dup_docs"))
      base.join(langs, "source").join(dups, "source")
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("total_tokens"),
          expr("total_chars div n_docs").as("mean_chars"),
          col("n_langs"), col("eff_langs_x1000"), col("exact_dup_docs"),
          expr("(exact_dup_docs * 1000000) div n_docs").as("dup_rate_x1e6"))
    },
    Some("""WITH base AS (SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
                AS BIGINT) AS total_tokens
            FROM documents GROUP BY 1),
            lm AS (SELECT source, lang, COUNT(*) AS nl
              FROM documents GROUP BY 1, 2),
            langs AS (SELECT source, COUNT(*) AS n_langs,
                (CAST(SUM(nl) AS BIGINT) * CAST(SUM(nl) AS BIGINT) * 1000)
                  // CAST(SUM(nl * nl) AS BIGINT) AS eff_langs_x1000
              FROM lm GROUP BY 1),
            dups AS (SELECT source,
                COUNT(*) - COUNT(DISTINCT md5(text)) AS exact_dup_docs
              FROM documents GROUP BY 1)
            SELECT base.source, n_docs, total_chars, total_tokens,
              total_chars // n_docs AS mean_chars,
              n_langs, eff_langs_x1000, exact_dup_docs,
              (exact_dup_docs * 1000000) // n_docs AS dup_rate_x1e6
            FROM base JOIN langs ON langs.source = base.source
            JOIN dups ON dups.source = base.source"""))

  /** PER-SOURCE DISTINCTIVE VOCABULARY — "what makes src7 different":
    * for each source, the top-3 terms by usage-rate ratio vs the REST
    * of the corpus, ratio ×1000 = (tf_s · (T − T_s) · 1000) div
    * (T_s · (tf_rest + 1)) — exact integers, +1 smoothing so a term
    * absent elsewhere scores finite and deterministic in both engines;
    * min support tf_s ≥ 5. The curation read before weighting or
    * capping a source: rate ratios are the log-free core of
    * log-odds/PMI keyness (the monotone ranking is what matters).
    *
    * Scale shape: one (source, term) count shuffle (map-side combine,
    * vocabulary×sources state), per-term totals vocabulary-keyed,
    * per-source totals broadcast; the top-3 window partitions by
    * source over vocab-sized frames. Int64 audit: tf·1000·T ≈ 10¹⁷ at
    * sf0.1-scale token counts; decimal(38,0) beyond (the checksum
    * convention).
    */
  val sourceDistinctTerms: QueryDef = QueryDef(
    "t_source_distinct_terms",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val st = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val ts = st.groupBy("source").agg(sum(col("tf")).as("ts"))
      val tw = st.groupBy("w").agg(sum(col("tf")).as("tw"))
      val tot = broadcast(ts.agg(sum(col("ts")).cast("long").as("tot")))
      val w = W.partitionBy("source").orderBy(col("ratio_x1000").desc, col("w"))
      st.join(broadcast(ts), "source").join(tw, "w").crossJoin(tot)
        .where(col("tf") >= 5)
        .withColumn("ratio_x1000",
          expr("(tf * 1000 * (tot - ts)) div (ts * (tw - tf + 1))"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("source", "w", "tf", "ratio_x1000", "rk")
    },
    Some(s"""WITH tk AS (SELECT source, unnest(${Portable.textSql.tokensLower}) AS w
              FROM documents),
            st AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf
              FROM tk GROUP BY 1, 2),
            ts AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS ts FROM st GROUP BY 1),
            tw AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS tw FROM st GROUP BY 1),
            tot AS (SELECT CAST(SUM(ts) AS BIGINT) AS tot FROM ts),
            sc AS (SELECT st.source, st.w, st.tf,
                CAST((st.tf * 1000 * (tot.tot - ts.ts))
                  // (ts.ts * (tw.tw - st.tf + 1)) AS BIGINT) AS ratio_x1000
              FROM st JOIN ts USING (source) JOIN tw USING (w) CROSS JOIN tot
              WHERE st.tf >= 5)
            SELECT source, w, tf, ratio_x1000, rk FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY ratio_x1000 DESC, w) AS BIGINT) AS rk FROM sc) t
            WHERE rk <= 3"""))

  /** ENCODING / MOJIBAKE audit — the byte-hygiene gate a crawl corpus
    * passes BEFORE any text metric is trusted (broken decodes poison
    * tokenization, dedup shingles, and language ID alike): per source,
    * how many docs carry U+FFFD replacement characters (a decoder
    * already gave up), how many carry raw C0 control characters
    * (binary mis-sniffed as text; tab/newline/CR excluded), and the
    * corpus non-ASCII character rate (×100k, truncated — a sudden
    * shift flags a charset regression upstream, not "foreign text is
    * bad"). All counts are exact integers; the rate divides two exact
    * sums (non-negative, so Spark div ≡ DuckDB //).
    *
    * Scale shape: one map-side scan computes the three per-doc flags,
    * one source-keyed aggregate; output = |sources| rows. Regexes are
    * single-pass char classes — no backtracking blowup on long docs.
    */
  val encodingAudit: QueryDef = QueryDef(
    "t_encoding_audit",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("nonascii",
          length(regexp_replace(col("text"), "[\\x00-\\x7F]", "")))
        .withColumn("has_repl",
          when(col("text").contains("�"), 1L).otherwise(0L))
        .withColumn("has_ctrl",
          when(col("text").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"), 1L)
            .otherwise(0L))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("has_repl")).as("n_replacement_docs"),
          sum(col("has_ctrl")).as("n_control_docs"),
          sum(col("nonascii")).as("nonascii_chars"),
          expr("(sum(nonascii) * 100000) div greatest(sum(length(text)), 1)")
            .as("nonascii_x100k"))
    },
    Some("""WITH d AS (SELECT source,
              length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS nonascii,
              CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END AS has_repl,
              CASE WHEN regexp_matches(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')
                THEN 1 ELSE 0 END AS has_ctrl,
              length(text) AS n
            FROM documents)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(has_repl) AS BIGINT) AS n_replacement_docs,
            CAST(SUM(has_ctrl) AS BIGINT) AS n_control_docs,
            CAST(SUM(nonascii) AS BIGINT) AS nonascii_chars,
            CAST((CAST(SUM(nonascii) AS BIGINT) * 100000)
              // greatest(CAST(SUM(n) AS BIGINT), 1) AS BIGINT) AS nonascii_x100k
          FROM d GROUP BY 1"""))

  val defs: Seq[QueryDef] =
    Seq(langId, quality, qualityLm, qualityBuckets, tokens, fingerprint, hashSample, stratifiedSample, datasetCard,
      encodingAudit,
      sourceDistinctTerms,
      normalize, contamination, weightedSample, pipelineE2e, wordCount,
      collocations, repetition, piiRedact, packSequences, mixtureSample,
      upsampleEpochs, readability, classifierLift, heavyHitters,
      heavyHittersGrouped, qualityEnsemble,
      invertedSearch, searchIncremental, searchDml,
      phraseSearch, shardExport, chunkRag, searchBm25,
      searchBm25Incremental, searchBm25Dml, hybridRrf,
      sourceCaps, boilerplate, qualityClassifier,
      keywordsTfidf, qualityCalibrated, mixtureInterleave, trainTestSplit,
      oovRate, corpusDrift, pipelineCuration, labelEncode,
      evalAuc, kAnonymity, lDiversity, vocabGrowth, qualityLmBigram, maskSpans, bpeMerges, bpeEncode,
      langIdEval, contaminationBloom, noveltyNgram, calibrationCurve,
      substringDecontamination, tokenCoverage)
}
