package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.TextOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis surface over the `documents` fixture (north-star
  * extension): token counting, quality scoring, hash-lexicon language
  * ID, winnowing document fingerprints, and corpus word counts. All
  * built from codegen'd higher-order array functions — no UDFs — with
  * bit-exact DuckDB twins (integer arithmetic + one double division).
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "value", "data", "table")
  private val stopIn = stopwords.map(w => s"'$w'").mkString(", ")

  private val langs = Seq("de", "en", "es", "fr", "zh")

  /** `documents` scan with the ScanPar parallelism floor (guide §2.5):
    * the fixture ships the corpus as one single-row-group file, so
    * every tokenize/shingle/regexp chain in this family would run
    * inside ONE scan task — on the round-19 regenerated fixture that
    * serial per-row work is the family's dominant cost (measured:
    * every text stage profiled at tasks=1). One hash exchange of the
    * raw (doc_id, lang, source, text) rows (~600 KB at sf0.1) buys
    * 32-way parallelism for work that costs 0.5–12 s serial; identity
    * on any real multi-split input. Applied ONLY to the token-stream /
    * per-row-HOF bases — count-only aggregates, scalar-column groupBys
    * and pure join-probe sides keep the bare scan (the floor measured
    * NEGATIVE on cheap chains, OPTIMIZATION_r19.md). */
  private def docsPar(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.ops.ScanPar.ensure(s, Tables(s, d, "documents"), col("doc_id"))

  /** q_text_collocations body. The floored tokenize chain re-derives
    * under each of its THREE consumers (the eager corpus-size count,
    * the unigram groupBy, the bigram side), and the plan clones the
    * unigram pipeline under both broadcast join sides. Kept unpersisted
    * on measurement (round 20, interleaved at bench cadence; table in
    * OPTIMIZATION_r20.md §8): persisting the tokens array was inside
    * noise at sf0.1 and equal at 10× corpus (2.023 s both), and
    * persisting the unigram aggregate was slower (1.558 s vs 1.014–
    * 1.449). The duplicated pipelines are parallel scan work the cores
    * absorb; a persist pays its materialization for nothing. */
  private[graft] def collocations(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val ta = docsPar(s, d).select(tokens(col("text")).as("w"))
    val tok = ta.select(explode(col("w")).as("w"))
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = tok.count()
    val bigramsOf = when(size(col("w")) >= 2,
      expr("transform(sequence(1, size(w) - 1)," +
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
      .otherwise(array().cast("array<string>"))
    val bg = ta
      .select(explode(bigramsOf).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c12"))
      .where(col("c12") >= 5)
    bg.select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"),
        col("c12"))
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        ((lit(n) * col("c12")).cast("double")
          / (col("c1") * col("c2")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Per-document hash-lexicon scores (s_de..s_zh), reduce-then-hash:
    * a token's lexicon membership depends only on the WORD, so hash a
    * distinct-word vocabulary once and join it back to per-doc word
    * counts — md5 runs vocabulary×langs times instead of
    * occurrences×langs, and the scoring itself is codegen'd joins and
    * sums rather than interpreted higher-order filters. The vocabulary
    * frame is broadcast (bounded by the corpus' distinct words; swap
    * for a shuffle join on a corpus whose vocabulary outgrows the
    * driver). */
  private def langidScores(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val tok = docsPar(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
    val vocab = tok.select(col("t")).distinct()
      .select(col("t") +: langs.map(l =>
        (pmod(h32(concat(col("t"), lit(s"_$l"))), lit(7L)) === 0)
          .cast("int").as(s"f_$l")): _*)
    // tok is read twice, but it's a cheap codegen scan+split — cheaper
    // to recompute than to cache the exploded stream
    tok.join(broadcast(vocab), Seq("t"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col(s"f_${langs.head}")).cast("int").as(s"s_${langs.head}"),
        langs.tail.map(l => sum(col(s"f_$l")).cast("int").as(s"s_$l")): _*)
  }

  /** C4/Gopher-style quality-rule battery, factored so the per-doc
    * operator (`q_text_quality_rules`) and the curation-e2e
    * composition (`q_curation_e2e`) share one rule definition. Every
    * threshold is an exact INTEGER comparison (ratio > t rewritten as
    * cross-multiplication), so both engines flag identically — the
    * DOUBLE ratios are emitted for reporting only.
    *
    * Rules (violation = true):
    *  - r_len:      token count outside [50, 100000)  (Gopher word-count gate)
    *  - r_word_len: mean word length outside [3, 10]  (sum vs 3n / 10n)
    *  - r_symbol:   symbol-to-char ratio > 0.1        (C4 symbol gate)
    *  - r_stopword: fewer than 2 distinct stopwords   (Gopher stop-hit gate)
    *  - r_dupgram:  duplicate 5-gram fraction > 0.3   (repetition gate —
    *                the fixture text is single-line, so the classic
    *                repeated-LINE fraction degenerates; dup n-grams is
    *                the same signal one level down)
    * Scale: one pruned scan of (doc_id, text), all rules computed
    * row-local in one codegen'd projection — no shuffle at all. */
  private[queries] val qualityRuleNames =
    Seq("r_len", "r_word_len", "r_symbol", "r_stopword", "r_dupgram")

  /** The battery as DuckDB CTEs (no leading WITH): qbase → qfeat →
    * qrules → qflags(doc_id, features…, flags…, n_violations, keep). */
  private[queries] def qualityCteSql: String =
    s"""qbase AS (
       |  SELECT doc_id, lang, text, ${tokensSql("text")} AS w FROM documents),
       |qfeat AS (
       |  SELECT doc_id, lang, text,
       |    len(w) AS n_tokens,
       |    CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT)
       |      AS sum_tok_len,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT)
       |      AS n_sym,
       |    len(list_distinct(list_filter(w, t -> t IN ($stopIn))))
       |      AS n_stop_distinct,
       |    CAST(CASE WHEN len(w) >= 5 THEN len(w) - 4 ELSE 0 END AS BIGINT)
       |      AS n_5grams,
       |    CAST(CASE WHEN len(w) >= 5
       |      THEN len(w) - 4 - len(list_distinct(${shinglesSql("w", 5)}))
       |      ELSE 0 END AS BIGINT) AS n_dup_5grams
       |  FROM qbase),
       |qrules AS (
       |  SELECT *,
       |    (n_tokens < 50 OR n_tokens >= 100000) AS r_len,
       |    (sum_tok_len < 3 * n_tokens OR sum_tok_len > 10 * n_tokens)
       |      AS r_word_len,
       |    (10 * n_sym > n_chars) AS r_symbol,
       |    (n_stop_distinct < 2) AS r_stopword,
       |    (10 * n_dup_5grams > 3 * n_5grams) AS r_dupgram
       |  FROM qfeat),
       |qflags AS (
       |  SELECT *,
       |    CAST(${qualityRuleNames.map(r => s"CAST($r AS INT)").mkString(" + ")}
       |      AS BIGINT) AS n_violations,
       |    (${qualityRuleNames.map(r => s"NOT $r").mkString(" AND ")}) AS keep
       |  FROM qrules)""".stripMargin

  /** Spark twin of [[qualityCteSql]]'s qflags: one row per doc with
    * the integer features, the five rule flags, n_violations, keep.
    * `keepTokens` passes the token array `w` through so a downstream
    * consumer (the export e2e's 5-gram battery) reuses ONE tokenize
    * pass instead of re-running it past the persist boundary. */
  private[queries] def qualityFlags(s: org.apache.spark.sql.SparkSession,
      d: String, keepTokens: Boolean = false): DataFrame = {
    val nTok = size(col("w"))
    val passthrough =
      Seq(col("doc_id"), col("lang"), col("text")) ++
        (if (keepTokens) Seq(col("w")) else Nil)
    // Materialize fences the token array: without it the keep-filter
    // pushdown substitutes `w` by split(text) inside every element_at
    // lambda (no CSE inside HOF lambdas) — measured ~10× battery cost.
    // ScanPar: the battery is ~1 ms/doc of row-local feature work on
    // the round-19 fixture (5-gram distinct, HOF folds, regexp) — far
    // past the one narrow exchange the floor inserts on a single-row-
    // group scan; identity on any real multi-split input (guide §2.5)
    val feat = docsPar(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        graft.functions.GraftFunctions.materialize(tokens(col("text"))).as("w"))
      .select(
        passthrough ++ Seq(
        nTok.cast("bigint").as("n_tokens"),
        aggregate(transform(col("w"), t => length(t).cast("bigint")),
          lit(0L), (acc, v) => acc + v).as("sum_tok_len"),
        length(col("text")).cast("bigint").as("n_chars"),
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("bigint")
          .as("n_sym"),
        size(array_distinct(filter(col("w"), t => t.isInCollection(stopwords))))
          .cast("bigint").as("n_stop_distinct"),
        when(nTok >= 5, nTok - 4).otherwise(0).cast("bigint").as("n_5grams"),
        when(nTok >= 5, nTok - 4 - size(array_distinct(shingles(col("w"), 5))))
          .otherwise(0).cast("bigint").as("n_dup_5grams")): _*)
    val flagged = feat.select(col("*"),
      (col("n_tokens") < 50 || col("n_tokens") >= 100000).as("r_len"),
      (col("sum_tok_len") < lit(3) * col("n_tokens") ||
        col("sum_tok_len") > lit(10) * col("n_tokens")).as("r_word_len"),
      (lit(10) * col("n_sym") > col("n_chars")).as("r_symbol"),
      (col("n_stop_distinct") < 2).as("r_stopword"),
      (lit(10) * col("n_dup_5grams") > lit(3) * col("n_5grams")).as("r_dupgram"))
    flagged.select(col("*"),
      qualityRuleNames.map(r => col(r).cast("int")).reduce(_ + _)
        .cast("bigint").as("n_violations"),
      (!qualityRuleNames.map(r => col(r)).reduce(_ || _)).as("keep"))
  }

  /** Corpus-trained bigram LM doc scoring as DuckDB CTEs (no leading
    * WITH): maximum-likelihood P(w2|w1) scaled to 1e9 integers
    * (p_scaled = 1e9·n2 DIV n1 — exact in both engines), summed per
    * doc. Produces `lmdoc(doc_id, n_bigrams, sum_p_scaled)`. Shared by
    * `q_text_lm_bigram_score` and the CCNet-style perplexity buckets
    * (`q_text_ccnet_buckets`). Scale shape: the model is
    * vocabulary²-bounded and joins back BROADCAST; the doc stream is
    * one explode→hash-agg. */
  private[queries] val bigramLmCtesSql: String =
    s"""bg AS (
       |  SELECT doc_id, g.g AS g
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents),
       |    unnest(list_transform(range(1, len(w)),
       |      i -> w[i] || ' ' || w[i+1])) AS g(g)),
       |c2 AS (SELECT g, count(*) AS n2 FROM bg GROUP BY g),
       |c1 AS (
       |  SELECT split_part(g, ' ', 1) AS prev, count(*) AS n1
       |  FROM bg GROUP BY split_part(g, ' ', 1)),
       |model AS (
       |  SELECT c2.g, (1000000000 * c2.n2) // c1.n1 AS p_scaled
       |  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.prev),
       |lmdoc AS (
       |  SELECT bg.doc_id, count(*) AS n_bigrams,
       |    CAST(sum(model.p_scaled) AS BIGINT) AS sum_p_scaled
       |  FROM bg JOIN model ON bg.g = model.g
       |  GROUP BY bg.doc_id)""".stripMargin

  /** Spark twin of [[bigramLmCtesSql]]'s lmdoc: (doc_id, n_bigrams,
    * sum_p_scaled). Docs with fewer than two tokens have no bigrams
    * and are absent (matching the SQL inner joins). */
  private[queries] def bigramLmDocScores(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val bigramsOf = when(size(col("w")) >= 2,
      expr("transform(sequence(1, size(w) - 1)," +
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
      .otherwise(array().cast("array<string>"))
    val bg = docsPar(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(bigramsOf).as("g"))
      .persist() // training counts + scoring join
    val c2 = bg.groupBy(col("g")).agg(count(lit(1)).as("n2"))
    val c1 = bg.groupBy(substring_index(col("g"), " ", 1).as("prev"))
      .agg(count(lit(1)).as("n1"))
    val model = c2
      .join(c1, substring_index(col("g"), " ", 1) === col("prev"))
      .select(col("g"),
        expr("(1000000000 * n2) DIV n1").as("p_scaled"))
    bg.join(broadcast(model), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_scaled")).as("sum_p_scaled"))
  }

  /** Fixed lexical query for the BM25 / hybrid-fusion entries. */
  private[queries] val bm25Terms = Seq("join", "vector", "scan")

  /** Log-free BM25 as DuckDB CTEs (no leading WITH): the catalog's
    * no-transcendentals parity rule forbids ln(), so idf is the exact
    * rational (N − df + ½)/(df + ½) — doubled to integers
    * (2N − 2df + 1)/(2df + 1) — and the tf saturation
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) with k1 = 1.2, b = 0.75
    * is cleared of ALL fractions by multiplying through by 40·T
    * (T = corpus token count, avgdl = T/N): numerator 88·T·tf,
    * denominator 40·T·tf + 12·T + 36·dl·N, every factor an exact
    * integer. Per term the score is ONE double division of two exact
    * DECIMAL(38,0)/HUGEINT products (int64 would wrap at web-corpus
    * scale), and the doc score adds the per-term doubles in FIXED
    * query order — float addition isn't associative, so the
    * pivot-then-add keeps Spark and DuckDB bit-identical where a
    * sum() over an unordered term set would not be. Produces
    * `dl(doc_id, dl)` and `bmagg(doc_id, score)`. Shared by
    * `q_text_bm25` and the RRF fusion (`q_eval_rrf`). */
  private[queries] val bm25CtesSql: String = {
    val termIn = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, t.w AS term
       |  FROM documents, unnest(string_split(trim(text), ' ')) AS t(w)),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |g AS (SELECT CAST(count(*) AS HUGEINT) AS t_total,
       |             (SELECT CAST(count(*) AS HUGEINT) FROM documents)
       |               AS n_docs
       |      FROM tok),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       WHERE term IN ($termIn)
       |       GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(*) AS HUGEINT) AS df
       |       FROM tf GROUP BY term),
       |sc AS (
       |  SELECT tf.doc_id, tf.term,
       |    CAST((2*g.n_docs - 2*df.df + 1) * (88 * g.t_total * tf.tf)
       |      AS DOUBLE)
       |    / CAST((2*df.df + 1)
       |        * (40 * g.t_total * tf.tf + 12 * g.t_total
       |           + 36 * dl.dl * g.n_docs) AS DOUBLE) AS s
       |  FROM tf JOIN df ON tf.term = df.term
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN g),
       |bmagg AS (
       |  SELECT sc.doc_id,
       |    ${bm25Terms.map(t =>
             s"coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0)")
             .mkString("\n    + ")}
       |      AS score
       |  FROM sc GROUP BY sc.doc_id)""".stripMargin
  }

  /** Spark twin of [[bm25CtesSql]]: (doc_id, dl, score) for every doc
    * containing at least one query term. Scale shape: one explode→hash
    * -agg for tf/dl, a |terms|-row broadcast for df, a 1-row broadcast
    * for the corpus totals. */
  private[queries] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val tok = Tables(s, d, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val g = tok.agg(count(lit(1)).cast("decimal(38,0)").as("t_total"))
      .crossJoin(Tables(s, d, "documents")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n_docs")))
    val tf = tok.where(col("term").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("df"))
    val sc = tf.join(broadcast(df), "term")
      .join(dl, "doc_id").crossJoin(broadcast(g))
      .withColumn("s",
        ((lit(2) * col("n_docs") - lit(2) * col("df") + lit(1))
          * (lit(88) * col("t_total") * col("tf"))).cast("double")
        / ((lit(2) * col("df") + lit(1))
          * (lit(40) * col("t_total") * col("tf")
             + lit(12) * col("t_total")
             + lit(36) * col("dl").cast("decimal(38,0)") * col("n_docs")))
          .cast("double"))
    sc.groupBy(col("doc_id"))
      .agg(bm25Terms.map(t =>
          coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
        .reduce(_ + _).as("score"))
      .join(dl, "doc_id")
      .select(col("doc_id"), col("dl"), col("score"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- token counting ----
    QueryDef("q_text_tokens", Some(
      """SELECT doc_id,
        |  len(w) AS n_tokens,
        |  len(list_distinct(w)) AS n_distinct,
        |  CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS total_token_chars,
        |  CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w) AS avg_token_len
        |FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)""".stripMargin))(
      (s, d) => {
        // two-step: materialize the token array once (HOF inlining
        // would otherwise re-split the text per reference)
        val totalChars = aggregate(transform(col("w"), t => length(t).cast("bigint")),
          lit(0L), (acc, v) => acc + v)
        docsPar(s, d)
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .select(
            col("doc_id"),
            size(col("w")).cast("bigint").as("n_tokens"),
            size(array_distinct(col("w"))).cast("bigint").as("n_distinct"),
            totalChars.as("total_token_chars"),
            (totalChars.cast("double") / size(col("w"))).as("avg_token_len"))
      }),

    // ---- BPE-ish subword counting: the pre-merge segmentation every
    // byte-pair tokenizer starts from (letter runs | digit runs |
    // symbol runs — the same character-class split GPT-style patterns
    // use, minus the unicode categories). The simple class-based regex
    // behaves identically in Java (Spark) and RE2 (DuckDB), so the
    // whole count set is oracled. ----
    QueryDef("q_text_tokens_bpe", Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(t) AS n_subtokens,
        |  len(list_distinct(t)) AS n_distinct_subtokens,
        |  len(list_filter(t, x -> regexp_matches(x, '^[A-Za-z]'))) AS n_word_runs,
        |  len(list_filter(t, x -> regexp_matches(x, '^[0-9]'))) AS n_digit_runs,
        |  len(list_filter(t, x -> regexp_matches(x, '^[^A-Za-z0-9]'))) AS n_symbol_runs
        |FROM tk""".stripMargin))(
      (s, d) =>
        docsPar(s, d)
          .select(col("doc_id"), regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0)).as("t"))
          .select(col("doc_id"),
            size(col("t")).cast("bigint").as("n_subtokens"),
            size(array_distinct(col("t"))).cast("bigint")
              .as("n_distinct_subtokens"),
            size(filter(col("t"), x => x.rlike("^[A-Za-z]"))).cast("bigint")
              .as("n_word_runs"),
            size(filter(col("t"), x => x.rlike("^[0-9]"))).cast("bigint")
              .as("n_digit_runs"),
            size(filter(col("t"), x => x.rlike("^[^A-Za-z0-9]"))).cast("bigint")
              .as("n_symbol_runs"))),

    // ---- quality scoring ----
    QueryDef("q_text_quality", Some(
      s"""SELECT doc_id,
         |  length(text) AS n_chars_measured,
         |  len(w) AS n_tokens,
         |  len(list_filter(w, t -> t IN ($stopIn))) AS n_stop,
         |  CAST(len(list_filter(w, t -> t IN ($stopIn))) AS DOUBLE) / len(w) AS stop_ratio,
         |  length(text) - length(regexp_replace(text, '[a-z ]', '', 'g')) AS n_nonalpha,
         |  CASE WHEN len(w) >= 150 THEN 'long'
         |       WHEN len(w) >= 60 THEN 'medium' ELSE 'short' END AS length_class,
         |  CASE WHEN CAST(len(list_filter(w, t -> t IN ($stopIn))) AS DOUBLE) / len(w) > 0.25
         |         THEN 'boilerplate' ELSE 'ok' END AS quality_flag
         |FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents)""".stripMargin))(
      (s, d) => {
        val nStop = size(filter(col("w"), t => t.isInCollection(stopwords)))
        val stopRatio = nStop.cast("double") / size(col("w"))
        docsPar(s, d)
          .select(col("doc_id"), col("text"), tokens(col("text")).as("w"))
          .select(
            col("doc_id"),
            length(col("text")).cast("bigint").as("n_chars_measured"),
            size(col("w")).cast("bigint").as("n_tokens"),
            nStop.cast("bigint").as("n_stop"),
            stopRatio.as("stop_ratio"),
            (length(col("text")) -
              length(regexp_replace(col("text"), "[a-z ]", "")))
              .cast("bigint").as("n_nonalpha"),
            when(size(col("w")) >= 150, "long")
              .when(size(col("w")) >= 60, "medium").otherwise("short").as("length_class"),
            when(stopRatio > 0.25, "boilerplate").otherwise("ok").as("quality_flag"))
      }),

    // ---- C4/Gopher quality-rule battery (see [[qualityCteSql]] for
    // the rule set): per-doc flags, violation count, keep decision,
    // plus the reporting ratios. All thresholds compare integers, so
    // the keep bit is bit-exact across engines; the ratios are one
    // double division of identical integers. One pruned scan, zero
    // shuffles — at 100 TB this runs at read bandwidth. ----
    QueryDef("q_text_quality_rules", Some(
      s"""WITH $qualityCteSql
         |SELECT doc_id, n_tokens,
         |  CAST(sum_tok_len AS DOUBLE) / n_tokens AS mean_word_len,
         |  CAST(n_sym AS DOUBLE) / n_chars AS symbol_ratio,
         |  n_stop_distinct,
         |  CASE WHEN n_5grams = 0 THEN 0.0
         |       ELSE CAST(n_dup_5grams AS DOUBLE) / n_5grams END AS dup5_frac,
         |  r_len, r_word_len, r_symbol, r_stopword, r_dupgram,
         |  n_violations, keep
         |FROM qflags""".stripMargin))(
      (s, d) =>
        qualityFlags(s, d).select(
          col("doc_id"), col("n_tokens"),
          (col("sum_tok_len").cast("double") / col("n_tokens"))
            .as("mean_word_len"),
          (col("n_sym").cast("double") / col("n_chars")).as("symbol_ratio"),
          col("n_stop_distinct"),
          when(col("n_5grams") === 0, lit(0.0))
            .otherwise(col("n_dup_5grams").cast("double") / col("n_5grams"))
            .as("dup5_frac"),
          col("r_len"), col("r_word_len"), col("r_symbol"),
          col("r_stopword"), col("r_dupgram"),
          col("n_violations"), col("keep"))),

    // ---- lexical complexity (readability proxy): vowel-cluster
    // count as the classic syllable estimate, per token via one
    // global regexp collapse, rolled up per doc into mean syllables
    // per word and the polysyllabic fraction — the SMOG/FK-style
    // signals a quality filter thresholds on. Pure
    // regexp+length integer arithmetic (no transcendentals), so the
    // per-doc report is exactly oracled; one explode + one hash agg
    // on doc_id. ----
    QueryDef("q_text_readability", Some(
      """WITH t AS (SELECT doc_id, lang,
        |    unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |c AS (SELECT doc_id, lang,
        |        length(rv) - length(replace(rv, '#', '')) AS cl
        |      FROM (SELECT doc_id, lang,
        |              regexp_replace(tok, '[aeiou]+', '#', 'g') AS rv
        |            FROM t))
        |SELECT doc_id, lang, count(*) AS n_tokens,
        |  CAST(sum(cl) AS BIGINT) AS syllables,
        |  CAST(sum(CASE WHEN cl >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_poly,
        |  CAST(sum(cl) AS DOUBLE) / count(*) AS mean_syllables,
        |  CAST(sum(CASE WHEN cl >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS poly_frac
        |FROM c GROUP BY doc_id, lang""".stripMargin))(
      (s, d) => {
        val rv = regexp_replace(col("tok"), "[aeiou]+", "#")
        docsPar(s, d)
          .select(col("doc_id"), col("lang"),
            explode(tokens(col("text"))).as("tok"))
          .select(col("doc_id"), col("lang"),
            (length(rv) - length(replace(rv, lit("#"), lit("")))).as("cl"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("cl")).cast("bigint").as("syllables"),
            sum(when(col("cl") >= 3, 1L).otherwise(0L)).cast("bigint")
              .as("n_poly"),
            (sum(col("cl")).cast("double") / count(lit(1)))
              .as("mean_syllables"),
            (sum(when(col("cl") >= 3, 1L).otherwise(0L)).cast("double")
              / count(lit(1))).as("poly_frac"))
      }),

    // ---- language ID via hash-lexicon scoring (deterministic n-gram
    // model proxy: each lang owns the ~1/7 of the vocab whose salted
    // hash ≡ 0 mod 7; argmax with alphabetical tiebreak) ----
    QueryDef("q_text_langid", Some {
      val scoreSql = langs.map(l =>
        s"len(list_filter(w, t -> ${h32Sql(s"t || '_$l'")} % 7 = 0)) AS s_$l").mkString(",\n  ")
      val maxSql = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val guessSql = langs.map(l => s"WHEN s_$l = $maxSql THEN '$l'")
        .mkString("CASE ", " ", " END")
      s"""SELECT doc_id, lang AS declared, $guessSql AS guess,
         |  ($guessSql = lang) AS is_match
         |FROM (SELECT doc_id, lang, $scoreSql
         |      FROM (SELECT doc_id, lang, ${tokensSql("text")} AS w FROM documents))""".stripMargin
    })(
      (s, d) => {
        val scored = langidScores(s, d)
        val m = greatest(langs.map(l => col(s"s_$l")): _*)
        val guess = langs.tail.foldLeft(
          when(col(s"s_${langs.head}") === m, langs.head)) { (acc, l) =>
          acc.when(col(s"s_$l") === m, l)
        }
        scored.select(col("doc_id"), col("lang").as("declared"),
          guess.as("guess"), (guess === col("lang")).as("is_match"))
      }),

    // ---- language-ID confidence calibration: the margin between the
    // best and runner-up scores is the standard abstain signal for a
    // classifier feeding a training-data filter (small margin = don't
    // trust the label). Same scoring base as q_text_langid; ties yield
    // margin 0. ----
    QueryDef("q_text_langid_margin", Some {
      val scoreSql = langs.map(l =>
        s"len(list_filter(w, t -> ${h32Sql(s"t || '_$l'")} % 7 = 0)) AS s_$l").mkString(",\n  ")
      val maxSql = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val guessSql = langs.map(l => s"WHEN s_$l = $maxSql THEN '$l'")
        .mkString("CASE ", " ", " END")
      val secondSql = s"greatest(${langs.map(l =>
        s"CASE WHEN '$l' = $guessSql THEN -1 ELSE s_$l END").mkString(", ")})"
      s"""SELECT doc_id, $guessSql AS guess,
         |  $maxSql AS best_score, $secondSql AS second_score,
         |  $maxSql - $secondSql AS margin,
         |  ($maxSql - $secondSql >= 3) AS is_confident
         |FROM (SELECT doc_id, $scoreSql
         |      FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents))""".stripMargin
    })(
      (s, d) => {
        val scored = langidScores(s, d).drop("lang")
        val m = greatest(langs.map(l => col(s"s_$l")): _*)
        val guess = langs.tail.foldLeft(
          when(col(s"s_${langs.head}") === m, langs.head)) { (acc, l) =>
          acc.when(col(s"s_$l") === m, l)
        }
        val second = greatest(langs.map(l =>
          when(lit(l) === guess, -1).otherwise(col(s"s_$l"))): _*)
        scored.select(col("doc_id"), guess.as("guess"),
          m.cast("bigint").as("best_score"),
          second.cast("bigint").as("second_score"),
          (m - second).cast("bigint").as("margin"),
          (m - second >= 3).as("is_confident"))
      }),

    // ---- char-trigram language model: train per-language profiles
    // (top-30 trigrams by document frequency) from the corpus itself,
    // then classify every doc by profile overlap. Two aggregation
    // phases + a broadcastable profile join — the standard scalable
    // langid shape (profiles are tiny; the corpus scan dominates). ----
    QueryDef("q_text_langid_trigram", Some(
      """WITH tg AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, greatest(length(text)-1, 1)),
        |      i -> substr(text, i, 3))) AS tg
        |  FROM documents
        |),
        |ex AS (SELECT doc_id, lang, t.t AS t FROM tg, unnest(tg.tg) AS t(t)),
        |dfreq AS (SELECT lang, t, count(*) AS cnt FROM ex GROUP BY lang, t),
        |profile AS (
        |  SELECT lang AS plang, t FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, t) AS rn FROM dfreq) WHERE rn <= 30
        |),
        |scores AS (
        |  SELECT ex.doc_id, profile.plang, count(*) AS n
        |  FROM ex JOIN profile ON ex.t = profile.t
        |  GROUP BY ex.doc_id, profile.plang
        |),
        |best AS (
        |  SELECT doc_id, plang AS guess, n AS best_score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY n DESC, plang) AS rn FROM scores) WHERE rn = 1
        |)
        |SELECT d.doc_id, d.lang AS declared,
        |  coalesce(best.guess, 'unknown') AS guess,
        |  coalesce(best.best_score, 0) AS best_score,
        |  (best.guess = d.lang) AS is_match
        |FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin))(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val docs = Tables(s, d, "documents")
        // codegen'd char-trigram extraction (CharNGrams) — same
        // codepoint semantics as the substr formulation in the oracle.
        // Dedup AFTER the explode: array_distinct on array<string> is an
        // O(n²) semantic-equals loop (no hash-set path for non-primitive
        // element types), ~10x slower than a shuffle dedup here. Persist:
        // both the profile-training branch and the scoring branch scan it.
        // repartition first: the fixture is one small parquet file = one
        // input partition, which would run the CPU-heavy extraction on a
        // single core (at cluster scale the scan is already parallel and
        // this is a cheap doc_id shuffle).
        val ex = docs.repartition(col("doc_id"))
          .select(col("doc_id"), col("lang"),
            explode(graft.functions.GraftFunctions.charNGrams(col("text"), 3)).as("t"))
          .distinct().persist()
        val dfreq = ex.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("cnt"))
        val wp = w.partitionBy(col("lang")).orderBy(col("cnt").desc, col("t").asc)
        val profile = dfreq.withColumn("rn", row_number().over(wp))
          .where(col("rn") <= 30)
          .select(col("lang").as("plang"), col("t"))
        val scores = ex.select(col("doc_id"), col("t"))
          .join(broadcast(profile), "t")
          .groupBy(col("doc_id"), col("plang"))
          .agg(count(lit(1)).as("n"))
        val wb = w.partitionBy(col("doc_id")).orderBy(col("n").desc, col("plang").asc)
        val best = scores.withColumn("rn", row_number().over(wb))
          .where(col("rn") === 1)
          .select(col("doc_id"), col("plang").as("guess"), col("n").as("best_score"))
        docs.select(col("doc_id"), col("lang"))
          .join(best, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang").as("declared"),
            coalesce(col("guess"), lit("unknown")).as("guess"),
            coalesce(col("best_score"), lit(0L)).as("best_score"),
            (col("guess") === col("lang")).as("is_match"))
      }),

    // ---- winnowing fingerprint (rolling min-hash over 5-gram hashes,
    // window 4 — the standard local fingerprint for plagiarism/near-dup
    // detection; emitted as a sorted distinct hash set) ----
    QueryDef("q_text_fingerprint", Some(
      s"""SELECT doc_id, len(gh) AS n_grams,
         |  array_to_string(CASE WHEN len(gh) >= 4
         |    THEN list_sort(list_distinct(list_transform(
         |           range(1, len(gh)-2), j -> list_min(gh[j:j+3]))))
         |    ELSE list_sort(list_distinct(gh)) END, ' ') AS fingerprint
         |FROM (
         |  SELECT doc_id, list_transform(
         |    range(1, greatest(len(w)-3, 1)),
         |    i -> ${h32Sql("concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])")}) AS gh
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents))""".stripMargin))(
      (s, d) => {
        // fused codegen'd 5-gram hashing (positional, unmodded) — same
        // values as the transform+concat_ws+md5 formulation
        val gh = graft.functions.GraftFunctions.shingleHashes(col("w"), 5, 0L)
        val winnow = transform(sequence(lit(1), size(col("gh")) - 3),
          j => array_min(slice(col("gh"), j, lit(4))))
        docsPar(s, d)
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .select(col("doc_id"), gh.as("gh"))
          .select(col("doc_id"), size(col("gh")).cast("bigint").as("n_grams"),
            // string-joined: the driver compare can't sort array cells
            array_join(transform(
              array_sort(array_distinct(
                when(size(col("gh")) >= 4, winnow).otherwise(col("gh")))),
              x => x.cast("string")), " ").as("fingerprint"))
      }),

    // ---- count-min sketch: bounded-memory frequency estimation (4×1024
    // counters regardless of vocabulary size — the 100 TB alternative to
    // exact word counts). Hashing is the engine's md5-based h32, so the
    // sketch is deterministic and the DuckDB oracle replicates it
    // exactly; est >= exact always (one-sided error). ----
    QueryDef("q_sketch_countmin", Some {
      val depth = 4; val width = 1024
      s"""WITH tok AS (
         |  SELECT t.w AS w FROM documents, unnest(${tokensSql("text")}) AS t(w)
         |),
         |cells AS (
         |  SELECT r.r AS r, ${h32Sql("w || '#' || CAST(r.r AS VARCHAR)")} % $width AS bucket,
         |    count(*) AS cnt
         |  FROM tok, range(0, $depth) r(r)
         |  GROUP BY 1, 2
         |),
         |words AS (SELECT w, count(*) AS exact_count FROM tok GROUP BY w),
         |probes AS (
         |  SELECT words.w, words.exact_count, r.r AS r,
         |    ${h32Sql("words.w || '#' || CAST(r.r AS VARCHAR)")} % $width AS bucket
         |  FROM words, range(0, $depth) r(r)
         |)
         |SELECT probes.w AS word, min(probes.exact_count) AS exact_count,
         |  min(cells.cnt) AS cms_estimate
         |FROM probes JOIN cells ON probes.r = cells.r AND probes.bucket = cells.bucket
         |GROUP BY probes.w""".stripMargin
    })(
      (s, d) => {
        val depth = 4; val width = 1024
        // reduce-then-hash: the sketch cell of a token depends only on
        // its WORD, so aggregate occurrences per word first (one pass
        // over the token stream, no hashing) and build the cells from
        // the per-word counts — md5 runs vocabulary×depth times instead
        // of occurrences×depth (thousands vs millions; the same
        // asymmetry holds on a real corpus, and the shuffle carries
        // words, not the 4× fanned-out occurrence stream)
        val tok = Tables(s, d, "documents")
          .select(explode(tokens(col("text"))).as("w"))
        val words = tok.groupBy(col("w")).agg(count(lit(1)).as("exact_count"))
        val wr = words.select(col("w"), col("exact_count"),
          explode(array((0 until depth).map(lit): _*)).as("r"))
          .withColumn("bucket",
            pmod(h32(concat(col("w"), lit("#"), col("r").cast("string"))), lit(width.toLong)))
          .persist() // both join sides hang off this tiny frame — one
                     // heavy tokenize+reduce pass, not two
        val cells = wr.groupBy(col("r"), col("bucket"))
          .agg(sum(col("exact_count")).as("cnt"))
        wr.join(cells, Seq("r", "bucket"))
          .groupBy(col("w").as("word"))
          .agg(min(col("exact_count")).as("exact_count"),
            min(col("cnt")).as("cms_estimate"))
      }),

    // ---- deterministic HyperLogLog (m=256 registers): distinct-token
    // estimate per language from constant-size state. Everything is
    // exact cross-engine: md5-based bucket/rank extraction is integer
    // arithmetic (rank via length(bin(suffix)) — no log2), 2^-rank
    // comes from a shared literal table, and the register sum is a sum
    // of dyadic rationals with denominators <= 2^25 — exactly
    // representable and order-independent in IEEE doubles. Raw HLL
    // estimate only (the small-range linear-counting correction needs
    // ln(), which is not bit-stable across engines); exact distinct
    // shown alongside. ----
    QueryDef("q_sketch_hll", Some {
      val m = 256
      val alpha = 0.7213 / (1 + 1.079 / m) // standard alpha_256
      val pow2neg = (0 to 25).map(k => math.pow(2.0, -k))
      val pow2negSql = pow2neg.map(_.toString)
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"""WITH sh AS (
         |  SELECT lang, ${shinglesSql("w", 3)} AS g
         |  FROM (SELECT lang, ${tokensSql("text")} AS w FROM documents)
         |),
         |el AS (
         |  SELECT DISTINCT lang, ${h32Sql("t.s")} AS h
         |  FROM sh, unnest(sh.g) AS t(s)
         |),
         |hashed AS (SELECT lang, h % $m AS bucket, h // $m AS suffix FROM el),
         |regs AS (
         |  SELECT lang, bucket,
         |    max(CASE WHEN suffix = 0 THEN 25
         |             ELSE 25 - length(bin(suffix)) END) AS r
         |  FROM hashed GROUP BY lang, bucket
         |),
         |sums AS (
         |  SELECT lang,
         |    sum(($pow2negSql)[r + 1]) + ($m - count(*)) * 1.0 AS reg_sum,
         |    count(*) AS n_present
         |  FROM regs GROUP BY lang
         |),
         |exact AS (SELECT lang, count(*) AS exact_distinct FROM el GROUP BY lang)
         |SELECT exact.lang, exact.exact_distinct,
         |  CAST($alpha AS DOUBLE) * $m * $m / sums.reg_sum AS hll_estimate,
         |  sums.n_present
         |FROM exact JOIN sums ON exact.lang = sums.lang""".stripMargin
    })(
      (s, d) => {
        val m = 256
        val alpha = 0.7213 / (1 + 1.079 / m)
        val pow2neg = array((0 to 25).map(k => lit(math.pow(2.0, -k))): _*)
        // distinct 32-bit shingle hashes per language — thousands of
        // elements, comfortably past HLL's small-range regime
        val tok = Tables(s, d, "documents")
          .select(col("lang"), tokens(col("text")).as("w"))
          .select(col("lang"),
            explode(graft.functions.GraftFunctions.shingleHashes(col("w"), 3, 0L)).as("h"))
          .distinct()
        val hashed = tok.select(col("lang"),
          pmod(col("h"), lit(m.toLong)).as("bucket"),
          (col("h") / m).cast("long").as("suffix"))
        val regs = hashed.groupBy(col("lang"), col("bucket"))
          .agg(max(when(col("suffix") === 0, 25)
            .otherwise(lit(25) - length(bin(col("suffix"))))).as("r"))
        val sums = regs.groupBy(col("lang"))
          .agg((org.apache.spark.sql.functions.sum(element_at(pow2neg, col("r") + 1)) +
            (lit(m) - count(lit(1))) * 1.0).as("reg_sum"),
            count(lit(1)).as("n_present"))
        val exact = tok.groupBy(col("lang")).agg(count(lit(1)).as("exact_distinct"))
        exact.join(sums, "lang")
          .select(col("lang"), col("exact_distinct"),
            (lit(alpha) * m * m / col("reg_sum")).as("hll_estimate"),
            col("n_present"))
      }),

    // ---- HLL set operations: the distributed-sketch property. Two
    // languages' register sets merge by per-bucket MAX into the union
    // sketch (exactly what partial aggregation does across executors);
    // intersection via inclusion-exclusion. Same exact-IEEE arguments
    // as q_sketch_hll, so estimates hash-match DuckDB. ----
    QueryDef("q_sketch_hll_setops", Some {
      val m = 256
      val alpha = 0.7213 / (1 + 1.079 / m)
      val pow2negSql = (0 to 25).map(k => math.pow(2.0, -k).toString)
        .mkString("CAST([", ", ", "] AS DOUBLE[])")
      def estSql(regsRel: String) =
        s"""(SELECT CAST($alpha AS DOUBLE) * $m * $m /
           |   (sum(($pow2negSql)[r + 1]) + ($m - count(*)) * 1.0)
           | FROM $regsRel)""".stripMargin
      s"""WITH sh AS (
         |  SELECT lang, ${shinglesSql("w", 3)} AS g
         |  FROM (SELECT lang, ${tokensSql("text")} AS w FROM documents)
         |  WHERE lang IN ('en', 'de')
         |),
         |el AS (
         |  SELECT DISTINCT lang, ${h32Sql("t.s")} AS h
         |  FROM sh, unnest(sh.g) AS t(s)
         |),
         |hashed AS (SELECT lang, h, h % $m AS bucket, h // $m AS suffix FROM el),
         |regs AS (
         |  SELECT lang, bucket,
         |    max(CASE WHEN suffix = 0 THEN 25
         |             ELSE 25 - length(bin(suffix)) END) AS r
         |  FROM hashed GROUP BY lang, bucket
         |),
         |merged AS (SELECT bucket, max(r) AS r FROM regs GROUP BY bucket),
         |en AS (SELECT bucket, r FROM regs WHERE lang = 'en'),
         |de AS (SELECT bucket, r FROM regs WHERE lang = 'de'),
         |exacts AS (
         |  SELECT count(DISTINCT h) AS exact_union,
         |    count(DISTINCT CASE WHEN cnt = 2 THEN h END) AS exact_inter
         |  FROM (SELECT h, count(DISTINCT lang) AS cnt FROM el GROUP BY h)
         |)
         |SELECT exacts.exact_union, exacts.exact_inter,
         |  ${estSql("merged")} AS est_union,
         |  ${estSql("en")} + ${estSql("de")} - ${estSql("merged")} AS est_inter
         |FROM exacts""".stripMargin
    })(
      (s, d) => {
        val m = 256
        val alpha = 0.7213 / (1 + 1.079 / m)
        val pow2neg = array((0 to 25).map(k => lit(math.pow(2.0, -k))): _*)
        val el = Tables(s, d, "documents")
          .where(col("lang").isin("en", "de"))
          .select(col("lang"), tokens(col("text")).as("w"))
          .select(col("lang"),
            explode(graft.functions.GraftFunctions.shingleHashes(col("w"), 3, 0L)).as("h"))
          .distinct()
          .persist()
        val hashed = el.select(col("lang"), col("h"),
          pmod(col("h"), lit(m.toLong)).as("bucket"),
          (col("h") / m).cast("long").as("suffix"))
        val regs = hashed.groupBy(col("lang"), col("bucket"))
          .agg(max(when(col("suffix") === 0, 25)
            .otherwise(lit(25) - length(bin(col("suffix"))))).as("r"))
          .persist()
        // one job for all three register sums (union-merged, en, de)
        // instead of three sequential collects
        val regSum = (org.apache.spark.sql.functions.sum(
          element_at(pow2neg, col("r") + 1)) +
          (lit(m) - count(lit(1))) * 1.0).as("reg_sum")
        val sums = regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
          .select(lit("u").as("side"), col("r"))
          .unionByName(regs.where(col("lang") === "en")
            .select(lit("en").as("side"), col("r")))
          .unionByName(regs.where(col("lang") === "de")
            .select(lit("de").as("side"), col("r")))
          .groupBy(col("side")).agg(regSum)
          .collect().map(r => r.getString(0) -> alpha * m * m / r.getDouble(1))
          .toMap
        val estUnion = sums("u")
        val estEn = sums("en")
        val estDe = sums("de")
        val byH = el.groupBy(col("h"))
          .agg(countDistinct(col("lang")).as("cnt"))
        byH.agg(
          count(lit(1)).as("exact_union"),
          count(when(col("cnt") === 2, col("h"))).as("exact_inter"))
          .select(col("exact_union"), col("exact_inter"),
            lit(estUnion).as("est_union"),
            lit(estEn + estDe - estUnion).as("est_inter"))
      }),

    // ---- corpus word count (tokenize → explode → two-level agg) ----
    QueryDef("q_text_wordcount", Some(
      """SELECT t.w AS word, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM documents, unnest(string_split(trim(text), ' ')) AS t(w)
        |GROUP BY t.w""".stripMargin))(
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"))),

    // ---- per-script character-class profile (Latin / digit / space /
    // symbol counts + dominant class) over the events' type+props
    // payload — the class-ratio building block of corpus filtering.
    // Explicit ASCII classes keep Java and RE2 regex semantics
    // identical; one double division per the parity rules. ----
    QueryDef("q_text_script_stats", Some(
      """SELECT event_id,
        |  length(t) AS n_chars,
        |  length(t) - length(regexp_replace(t, '[a-z]', '', 'g')) AS n_alpha,
        |  length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
        |  length(t) - length(regexp_replace(t, '[ ]', '', 'g')) AS n_space,
        |  length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS n_symbol,
        |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS DOUBLE)
        |    / length(t) AS digit_ratio,
        |  CASE WHEN length(t) - length(regexp_replace(t, '[a-z]', '', 'g'))
        |           >= length(regexp_replace(t, '[a-z0-9 ]', '', 'g'))
        |        AND length(t) - length(regexp_replace(t, '[a-z]', '', 'g'))
        |           >= length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |       THEN 'alpha'
        |       WHEN length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |           >= length(regexp_replace(t, '[a-z0-9 ]', '', 'g'))
        |       THEN 'digit' ELSE 'symbol' END AS dominant_class
        |FROM (SELECT event_id, event_type || ' ' || props AS t FROM events)""".stripMargin))(
      (s, d) => {
        val counted = Tables(s, d, "events")
          .select(col("event_id"),
            concat(col("event_type"), lit(" "), col("props")).as("t"))
          .select(col("event_id"), col("t"),
            length(col("t")).cast("bigint").as("n_chars"),
            (length(col("t")) - length(regexp_replace(col("t"), "[a-z]", "")))
              .cast("bigint").as("n_alpha"),
            (length(col("t")) - length(regexp_replace(col("t"), "[0-9]", "")))
              .cast("bigint").as("n_digit"),
            (length(col("t")) - length(regexp_replace(col("t"), "[ ]", "")))
              .cast("bigint").as("n_space"),
            length(regexp_replace(col("t"), "[a-z0-9 ]", "")).cast("bigint")
              .as("n_symbol"))
        counted.select(col("event_id"), col("n_chars"), col("n_alpha"),
          col("n_digit"), col("n_space"), col("n_symbol"),
          (col("n_digit").cast("double") / col("n_chars")).as("digit_ratio"),
          when(col("n_alpha") >= col("n_symbol") && col("n_alpha") >= col("n_digit"),
            "alpha")
            .when(col("n_digit") >= col("n_symbol"), "digit")
            .otherwise("symbol").as("dominant_class"))
      }),

    // ---- repetition metrics (Gopher/C4-style): fraction of n-gram
    // occurrences claimed by the most common bigram, and the fraction
    // inside ANY duplicated trigram — the standard signals for
    // template/boilerplate docs. Computed the scalable way: explode →
    // count per (doc, gram) → per-doc roll-up. Both shuffles hash on
    // doc_id(,gram) with map-side partials; nothing is quadratic in
    // document length (a per-row HOF mode() would be). ----
    QueryDef("q_text_repetition", Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, gram, count(*) AS n FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS gram FROM w)
        |  GROUP BY doc_id, gram),
        |ba AS (SELECT doc_id, max(n) AS top_bigram_n, CAST(sum(n) AS BIGINT) AS n_bigrams
        |       FROM bg GROUP BY doc_id),
        |tg AS (
        |  SELECT doc_id, gram, count(*) AS n FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM w)
        |  GROUP BY doc_id, gram),
        |ta AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_trigram_n,
        |         CAST(sum(n) AS BIGINT) AS n_trigrams
        |       FROM tg GROUP BY doc_id)
        |SELECT d.doc_id, ba.n_bigrams, ba.top_bigram_n,
        |  CASE WHEN ba.n_bigrams > 0
        |       THEN CAST(ba.top_bigram_n AS DOUBLE) / ba.n_bigrams END AS top_bigram_frac,
        |  ta.n_trigrams, ta.dup_trigram_n,
        |  CASE WHEN ta.n_trigrams > 0
        |       THEN CAST(ta.dup_trigram_n AS DOUBLE) / ta.n_trigrams END AS dup_trigram_frac
        |FROM documents d
        |LEFT JOIN ba ON ba.doc_id = d.doc_id
        |LEFT JOIN ta ON ta.doc_id = d.doc_id""".stripMargin))(
      (s, d) => {
        // n-grams kept NON-distinct (repetition is the point); short
        // docs guard against sequence(1, 0) descending.
        def grams(n: Int) = when(size(col("t")) >= n,
          transform(sequence(lit(1), size(col("t")) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(o => element_at(col("t"), i + o)): _*)))
          .otherwise(array().cast("array<string>"))
        val docs = docsPar(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
        val bg = docs.select(col("doc_id"), explode(grams(2)).as("gram"))
          .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("n"))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
        val tg = docs.select(col("doc_id"), explode(grams(3)).as("gram"))
          .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("n"))
          .groupBy(col("doc_id"))
          .agg(sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_trigram_n"),
            sum(col("n")).as("n_trigrams"))
        docs.select(col("doc_id"))
          .join(bg, Seq("doc_id"), "left")
          .join(tg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
            when(col("n_bigrams") > 0,
              col("top_bigram_n").cast("double") / col("n_bigrams"))
              .as("top_bigram_frac"),
            col("n_trigrams"), col("dup_trigram_n"),
            when(col("n_trigrams") > 0,
              col("dup_trigram_n").cast("double") / col("n_trigrams"))
              .as("dup_trigram_frac"))
      }),

    // ---- Gopher-style quality rules: document-level token-count /
    // mean-word-length / lexical-diversity / stopword-presence bounds
    // with a composite verdict. Entirely row-local (one scan, zero
    // shuffles — embarrassingly parallel at any corpus size); the
    // arrays are materialized in a separate select per the HOF
    // inlining rule. Thresholds follow the published Gopher rules
    // where the synthetic fixture exercises them (token count,
    // mean word length, stopword count) plus a unique-token-ratio
    // floor calibrated to split this corpus (~0.28..1.0 observed). ----
    QueryDef("q_text_gopher", Some(
      s"""SELECT doc_id, n_tokens, mean_word_len, uniq_frac, n_stop,
         |  (n_tokens BETWEEN 30 AND 100000
         |    AND mean_word_len >= 3 AND mean_word_len <= 10
         |    AND uniq_frac >= 0.4 AND n_stop >= 2) AS passes
         |FROM (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))),
         |      (a, b) -> a + b) AS DOUBLE) / len(t) AS mean_word_len,
         |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_frac,
         |    len(list_filter(t, x -> x IN ($stopIn))) AS n_stop
         |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents))""".stripMargin))(
      (s, d) =>
        docsPar(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .select(col("doc_id"),
            size(col("t")).cast("bigint").as("n_tokens"),
            (aggregate(col("t"), lit(0), (a, x) => a + length(x)).cast("double") /
              size(col("t"))).as("mean_word_len"),
            (size(array_distinct(col("t"))).cast("double") / size(col("t")))
              .as("uniq_frac"),
            size(filter(col("t"), x => x.isInCollection(stopwords)))
              .cast("bigint").as("n_stop"))
          .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
            col("uniq_frac"), col("n_stop"),
            (col("n_tokens").between(30, 100000) &&
              col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
              col("uniq_frac") >= 0.4 && col("n_stop") >= 2).as("passes"))),

    // ---- per-doc top-3 TF-IDF terms: the keyword-extraction /
    // relevance-weighting primitive of corpus curation. The classic
    // log-idf is transcendental (not bit-portable across engines), so
    // the score is the RATIONAL idf tf·N/df, integer-scaled before the
    // division: score = (tf · N · 1e6) div df — pure bigint arithmetic,
    // identical in both engines, same ranking as tf·N/df to 1e-6.
    // Scale shape: tf is one (doc,term) hash-shuffle; df is a
    // vocab-sized aggregate that joins back broadcast; the corpus-size
    // scalar N broadcasts. No all-pairs anywhere. ----
    QueryDef("q_text_tfidf", Some(
      """WITH tf AS (
        |  SELECT doc_id, t.w AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(trim(text), ' ')) AS t(w)
        |  GROUP BY doc_id, t.w),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    (tf.tf * n.n_docs * 1000000) // df.df AS score_scaled
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        |SELECT doc_id, term, tf, df, score_scaled, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_scaled DESC, term) AS rnk FROM scored)
        |WHERE rnk <= 3""".stripMargin))(
      (s, d) => {
        val tf = Tables(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = Tables(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score_scaled").desc, col("term").asc)
        tf.join(broadcast(df), "term")
          .crossJoin(broadcast(n))
          .withColumn("score_scaled",
            expr("(tf * n_docs * 1000000) div df"))
          .withColumn("rnk", row_number().over(w).cast("bigint"))
          .where(col("rnk") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score_scaled"), col("rnk"))
      }),

    // ---- per-language document-length histogram: the distribution
    // profile a curation pipeline reports before/after filtering.
    // Fixed-width integer buckets (50 chars) — pure bigint div, no
    // data-driven bounds — so the histogram is exact in both engines
    // and the plan is ONE partial+final aggregate at any scale. ----
    QueryDef("q_text_length_histogram", Some(
      """SELECT lang, n_chars // 50 AS bucket, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, n_chars // 50""".stripMargin))(
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(col("lang"), expr("n_chars div 50").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))),

    // ---- vocabulary construction + per-doc OOV rate: the top-V
    // tokens by corpus frequency (deterministic tiebreak on the token)
    // become the vocabulary; every doc then reports how many of its
    // tokens fall outside it — the coverage stat that sizes a
    // tokenizer vocab and flags gibberish docs. Counts are exact
    // integers; the rate is one double division (correctly rounded in
    // both engines). Scale: token counts are one partial+final hash
    // agg; the top-V selection is orderBy+limit over the DISTINCT-
    // token frame (TakeOrderedAndProject — per-partition heaps, never
    // a global sort); the V-row vocab broadcasts back to the exploded
    // token stream, so no shuffle touches per-occurrence data twice.
    QueryDef("q_text_vocab_oov", Some(
      s"""WITH tok AS (
         |  SELECT doc_id, t.w AS w
         |  FROM documents, unnest(${tokensSql("text")}) AS t(w)),
         |c AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
         |v AS (SELECT w FROM c ORDER BY n DESC, w LIMIT 64)
         |SELECT tok.doc_id,
         |  count(*) AS n_tokens,
         |  count(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov,
         |  CAST(count(CASE WHEN v.w IS NULL THEN 1 END) AS DOUBLE)
         |    / count(*) AS oov_rate
         |FROM tok LEFT JOIN v ON tok.w = v.w
         |GROUP BY tok.doc_id""".stripMargin))(
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w").asc).limit(64)
          .select(col("w"), lit(true).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("w"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            count(when(col("in_vocab").isNull, 1)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      }),

    // ---- one BPE TRAINING iteration: count adjacent character pairs
    // (overlapping, weighted by word frequency), pick the most
    // frequent pair (lexicographic tiebreak), apply the merge
    // leftmost-non-overlapping — exactly the sennrich-style algorithm
    // step — and report each doc's symbol count before/after. Pure
    // integer + string ops, so the whole iteration is exactly
    // oracled. Scale: pair counting and merge application run over
    // the DISTINCT-WORD frame (vocabulary×word-length work, not
    // occurrences); the winning pair is a 1-row broadcast; per-doc
    // deltas come from re-joining the vocab stats (broadcast) to the
    // token stream — the same reduce-then-rejoin shape as langid. ----
    QueryDef("q_text_bpe_merge", Some(
      s"""WITH tok AS (
         |  SELECT doc_id, t.w AS w
         |  FROM documents, unnest(${tokensSql("text")}) AS t(w)),
         |wf AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
         |pc AS (
         |  SELECT p.p AS pair, sum(wf.n) AS cnt
         |  FROM wf, unnest(list_transform(range(1, len(wf.w)),
         |    i -> wf.w[i:i+1])) AS p(p)
         |  GROUP BY p.p),
         |top AS (SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 1),
         |ws AS (
         |  SELECT wf.w, len(wf.w) AS lw,
         |    (len(wf.w) - len(replace(wf.w, top.pair, ''))) // 2 AS occ
         |  FROM wf CROSS JOIN top)
         |SELECT tok.doc_id, top.pair AS merge_pair,
         |  CAST(top.cnt AS BIGINT) AS pair_count,
         |  CAST(sum(ws.lw) AS BIGINT) AS n_sym_before,
         |  CAST(sum(ws.lw - ws.occ) AS BIGINT) AS n_sym_after
         |FROM tok JOIN ws ON tok.w = ws.w CROSS JOIN top
         |GROUP BY tok.doc_id, top.pair, top.cnt""".stripMargin))(
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        val wf = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
        // guard: sequence(1, 0) would be DESCENDING for 1-char words
        val pairsOf = when(length(col("w")) >= 2,
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .otherwise(array().cast("array<string>"))
        val top = wf.select(explode(pairsOf).as("pair"), col("n"))
          .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        val ws = wf.crossJoin(broadcast(top))
          .select(col("w"), col("pair"), col("cnt"),
            length(col("w")).cast("bigint").as("lw"),
            expr("CAST((length(w) - length(replace(w, pair, ''))) DIV 2 AS BIGINT)")
              .as("occ"))
        tok.join(broadcast(ws), "w")
          .groupBy(col("doc_id"), col("pair").as("merge_pair"),
            col("cnt").as("pair_count"))
          .agg(sum(col("lw")).as("n_sym_before"),
            sum(col("lw") - col("occ")).as("n_sym_after"))
      }),

    // ---- count-based bigram LM scoring: train P(next|prev) on the
    // corpus itself (MLE from bigram/prefix counts), then score each
    // doc by its average conditional probability — the transcendental-
    // free proxy for perplexity filtering (low avg-P == the LM finds
    // the doc surprising). Probabilities are EXACT integer rationals:
    // p_scaled = (1e9·c2) DIV c1 per distinct bigram, so training and
    // scoring are bit-oracled end-to-end; the only FP op is the final
    // average division. Scale: bigram extraction is row-local
    // (transform over the token array, no window over the corpus
    // token stream); counting is one hash agg over bigram instances;
    // the model is vocab²-bounded and broadcasts back. Headroom: the
    // 1e9-scaled numerator wraps int64 once a single bigram exceeds
    // ~9e9 occurrences — at that corpus scale drop the scale to 1e6
    // (or lift the product to DECIMAL), same plan. ----
    QueryDef("q_text_lm_bigram_score", Some(
      s"""WITH $bigramLmCtesSql
         |SELECT doc_id, n_bigrams, sum_p_scaled,
         |  CAST(sum_p_scaled AS DOUBLE) / n_bigrams / 1000000000.0
         |    AS avg_prob
         |FROM lmdoc""".stripMargin))(
      (s, d) =>
        bigramLmDocScores(s, d)
          .select(col("doc_id"), col("n_bigrams"), col("sum_p_scaled"),
            (col("sum_p_scaled").cast("double") / col("n_bigrams")
              / lit(1000000000.0)).as("avg_prob"))),

    // ---- interpolated Kneser-Ney bigram model (the standard n-gram
    // smoothing; Chen & Goodman 1999), in EXACT integers: with
    // discount d = 3/4,
    //   p_kn(w2|w1) = (max(c(w1w2)-d, 0) + d·N1+(w1·)·N1+(·w2)/T)
    //                 / c(w1·)
    // where N1+(w1·)/N1+(·w2) are distinct-continuation counts and T
    // is the bigram-type total. Clearing denominators by 4·T·c(w1·)
    // gives kn_num = T·(4·c−3) + 3·N1+(w1·)·N1+(·w2) and
    // kn_den = 4·T·c(w1·) — pure BIGINT (for OBSERVED bigrams c ≥ 1 so
    // the max() never clips; unobserved bigrams fall entirely to the
    // continuation term and are not enumerated here). Output is the
    // n2 ≥ 5 slice so it stays vocabulary-bounded. Scale: every model
    // frame (c2/c1/bw/T) is vocabulary²-bounded, never corpus-bound;
    // the only corpus-sized pass is the bigram explode→hash-agg. The
    // continuation-count joins carry NO broadcast hint — vocabulary
    // is small on most corpora but not bounded by construction, so
    // the planner stays free to shuffle them (AQE broadcasts when a
    // given corpus's vocabulary actually is small). ----
    QueryDef("q_text_kn_bigram", Some(
      s"""WITH bg AS (
         |  SELECT g.g AS g
         |  FROM (SELECT ${tokensSql("text")} AS w FROM documents),
         |    unnest(list_transform(range(1, len(w)),
         |      i -> w[i] || ' ' || w[i+1])) AS g(g)),
         |c2 AS (SELECT g, count(*) AS n2 FROM bg GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS prev,
         |         CAST(sum(n2) AS BIGINT) AS n1, count(*) AS fwd
         |       FROM c2 GROUP BY 1),
         |bw AS (SELECT split_part(g, ' ', 2) AS nxt, count(*) AS bwd
         |       FROM c2 GROUP BY 1),
         |t AS (SELECT count(*) AS tt FROM c2)
         |SELECT c2.g AS bigram, c2.n2 AS n2,
         |  CAST(t.tt * (4 * c2.n2 - 3) + 3 * c1.fwd * bw.bwd AS BIGINT)
         |    AS kn_num,
         |  CAST(4 * t.tt * c1.n1 AS BIGINT) AS kn_den
         |FROM c2
         |JOIN c1 ON split_part(c2.g, ' ', 1) = c1.prev
         |JOIN bw ON split_part(c2.g, ' ', 2) = bw.nxt
         |CROSS JOIN t
         |WHERE c2.n2 >= 5""".stripMargin))(
      (s, d) => {
        val bigramsOf = when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .otherwise(array().cast("array<string>"))
        val bg = docsPar(s, d)
          .select(tokens(col("text")).as("w"))
          .select(explode(bigramsOf).as("g"))
        val c2 = bg.groupBy(col("g")).agg(count(lit(1)).as("n2"))
          .persist() // feeds c1/bw/t AND the scored output
        val c1 = c2.groupBy(substring_index(col("g"), " ", 1).as("prev"))
          .agg(sum(col("n2")).as("n1"), count(lit(1)).as("fwd"))
        val bw = c2.groupBy(substring_index(col("g"), " ", -1).as("nxt"))
          .agg(count(lit(1)).as("bwd"))
        val t = c2.agg(count(lit(1)).as("tt"))
        // c1/bw are VOCABULARY-sized — small on this fixture but NOT
        // bounded by construction (web-scale corpora reach 1e8+ token
        // types), so no broadcast hint: AQE picks broadcast when a
        // given corpus's vocabulary actually is small, and falls back
        // to a shuffled prefix-key join when it is not. Only the
        // 1-row total keeps its hint.
        c2.where(col("n2") >= 5)
          .join(c1, substring_index(col("g"), " ", 1) === col("prev"))
          .join(bw, substring_index(col("g"), " ", -1) === col("nxt"))
          .crossJoin(broadcast(t))
          .select(col("g").as("bigram"), col("n2"),
            (col("tt") * (lit(4) * col("n2") - 3) +
              lit(3) * col("fwd") * col("bwd")).as("kn_num"),
            (lit(4) * col("tt") * col("n1")).as("kn_den"))
      }),

    // ---- corpus novelty: per doc, the fraction of its distinct
    // 5-gram shingles whose FIRST corpus occurrence (min doc_id over
    // containing docs) is this doc — the curriculum/memorization
    // metric (documents that only restate earlier shingles score ~0;
    // fresh content scores ~1e6 ppm). Exact integers end to end,
    // over the HASHED shingle space (h32 mod P, same modulus both
    // engines — the decontamination convention): the inverted index
    // and the join-back shuffle 8-byte keys instead of ~50-byte
    // 5-gram strings, and the fused ShingleHashes expression never
    // materializes the concatenated gram at all (7.5 → ~2 s at
    // sf0.1). Collisions merge identically on both engines. Scale:
    // one explode→hash-agg builds the index (the same exchange every
    // dedup entry pays), one equi-join back on the hash, one per-doc
    // aggregate — no windows, no broadcast of anything corpus-sized.
    QueryDef("q_text_novelty", Some(
      s"""WITH tok AS (SELECT doc_id, ${tokensSql("text")} AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, g.h AS h
         |  FROM (SELECT doc_id,
         |          list_distinct(${shingleHashesSql(shinglesSql("w", 5))})
         |            AS hs FROM tok),
         |    unnest(hs) AS g(h)),
         |fst AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST((1000000 * sum(CASE WHEN fst.first_doc = sh.doc_id
         |      THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS novelty_ppm
         |FROM sh JOIN fst ON sh.h = fst.h
         |GROUP BY sh.doc_id""".stripMargin))(
      (s, d) => {
        val sh = docsPar(s, d)
          .select(col("doc_id"),
            explode(array_distinct(graft.functions.GraftFunctions
              .shingleHashes(tokens(col("text")), 5, graft.ops.TextOps.P)))
              .as("h"))
          .persist() // inverted index + join-back both read it
        val fst = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
        sh.join(fst, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            expr("(1000000 * n_novel) DIV n_shingles").as("novelty_ppm"))
      }),

    // ---- Heaps'-law vocabulary-growth curve: distinct-token count
    // after each tenth of the corpus (doc_id-value deciles — the
    // ingest order), computed WITHOUT re-scanning prefixes: each
    // token contributes to the decile of its FIRST occurrence (the
    // q_text_novelty min-doc trick), so one token-grain hash-agg +
    // one 10-row cumsum yields the whole curve. The curve is the
    // tokenizer-sizing / dedup-saturation signal: sublinear growth
    // (Heaps) means new data repeats old vocabulary; a linear tail
    // means the corpus is still surfacing new content. Scale: the
    // only corpus-sized stage is the explode→min agg; the window
    // runs over exactly 10 aggregate rows. ----
    QueryDef("q_text_heaps_curve", Some(
      s"""WITH tok AS (
         |  SELECT doc_id, t.w AS w
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS w0 FROM documents),
         |    unnest(w0) AS t(w)),
         |st AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |       FROM documents),
         |fst AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
         |g AS (SELECT (10 * (fst.fd - st.lo)) // (st.hi - st.lo + 1)
         |        AS dix, count(*) AS new_tokens
         |      FROM fst, st GROUP BY 1),
         |dd AS (SELECT (10 * (doc_id - st.lo)) // (st.hi - st.lo + 1)
         |         AS dix, count(*) AS n_docs
         |       FROM documents, st GROUP BY 1),
         |f AS (SELECT dd.dix AS dix, dd.n_docs,
         |        coalesce(g.new_tokens, 0) AS new_tokens
         |      FROM dd LEFT JOIN g ON g.dix = dd.dix)
         |SELECT dix + 1 AS decile,
         |  CAST(sum(n_docs) OVER w AS BIGINT) AS n_docs_prefix,
         |  CAST(new_tokens AS BIGINT) AS new_tokens,
         |  CAST(sum(new_tokens) OVER w AS BIGINT) AS vocab_size
         |FROM f
         |WINDOW w AS (ORDER BY dix ROWS UNBOUNDED PRECEDING)"""
        .stripMargin))(
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val st = docs.agg(min(col("doc_id")).as("lo"),
          max(col("doc_id")).as("hi"))
        val dix = expr("(10 * (fd - lo)) DIV (hi - lo + 1)")
        val fst = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
        val g = fst.crossJoin(broadcast(st))
          .select(dix.as("dix"))
          .groupBy(col("dix")).agg(count(lit(1)).as("new_tokens"))
        val dd = docs.crossJoin(broadcast(st))
          .select(expr("(10 * (doc_id - lo)) DIV (hi - lo + 1)").as("dix"))
          .groupBy(col("dix")).agg(count(lit(1)).as("n_docs"))
        // the cumsum window touches exactly the 10 decile rows
        import org.apache.spark.sql.expressions.Window
        val w = graft.ops.BoundedWindow.ordered(col("dix"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dd.join(g, Seq("dix"), "left")
          .select(col("dix"), col("n_docs"),
            coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
          .select((col("dix") + 1).as("decile"),
            sum(col("n_docs")).over(w).cast("bigint").as("n_docs_prefix"),
            col("new_tokens").cast("bigint").as("new_tokens"),
            sum(col("new_tokens")).over(w).cast("bigint").as("vocab_size"))
      }),

    // ---- weak-supervision label-model diagnostics (Snorkel-style):
    // three deterministic labeling functions vote keep(1)/drop(0)/
    // abstain(NULL) on each doc — length, symbol ratio, stopword
    // presence, each with an abstention band around its threshold —
    // and the output is the canonical LF health report: per-LF
    // coverage, pairwise overlap and conflict counts, plus the
    // majority-vote label distribution (ties and all-abstain docs
    // stay 'abstain'). Every vote is an exact integer comparison
    // (ratios cross-multiplied), so coverage/overlap/conflict and the
    // final labels are bit-identical across engines. Scale: one
    // pruned scan, all votes row-local, ONE global conditional
    // aggregate — no shuffle beyond the final 1-row reduce. ----
    QueryDef("q_label_model_stats", Some(
      s"""WITH $qualityCteSql,
         |votes AS (
         |  SELECT doc_id,
         |    CASE WHEN n_tokens < 40 THEN 0
         |         WHEN n_tokens >= 60 THEN 1 END AS v_len,
         |    CASE WHEN 10 * n_sym > n_chars THEN 0
         |         WHEN 20 * n_sym < n_chars THEN 1 END AS v_sym,
         |    CASE WHEN n_stop_distinct >= 3 THEN 1
         |         WHEN n_stop_distinct = 0 THEN 0 END AS v_stop
         |  FROM qfeat),
         |lab AS (
         |  SELECT *,
         |    (CASE WHEN v_len = 1 THEN 1 ELSE 0 END
         |     + CASE WHEN v_sym = 1 THEN 1 ELSE 0 END
         |     + CASE WHEN v_stop = 1 THEN 1 ELSE 0 END) AS keeps,
         |    (CASE WHEN v_len = 0 THEN 1 ELSE 0 END
         |     + CASE WHEN v_sym = 0 THEN 1 ELSE 0 END
         |     + CASE WHEN v_stop = 0 THEN 1 ELSE 0 END) AS drops
         |  FROM votes)
         |SELECT count(*) AS n_docs,
         |  CAST(count(v_len) AS BIGINT) AS cov_len,
         |  CAST(count(v_sym) AS BIGINT) AS cov_sym,
         |  CAST(count(v_stop) AS BIGINT) AS cov_stop,
         |  CAST(sum(CASE WHEN v_len IS NOT NULL AND v_sym IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS ovl_len_sym,
         |  CAST(sum(CASE WHEN v_len IS NOT NULL AND v_stop IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS ovl_len_stop,
         |  CAST(sum(CASE WHEN v_sym IS NOT NULL AND v_stop IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS ovl_sym_stop,
         |  CAST(sum(CASE WHEN v_len <> v_sym THEN 1 ELSE 0 END) AS BIGINT)
         |    AS con_len_sym,
         |  CAST(sum(CASE WHEN v_len <> v_stop THEN 1 ELSE 0 END) AS BIGINT)
         |    AS con_len_stop,
         |  CAST(sum(CASE WHEN v_sym <> v_stop THEN 1 ELSE 0 END) AS BIGINT)
         |    AS con_sym_stop,
         |  CAST(sum(CASE WHEN keeps > drops THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_keep,
         |  CAST(sum(CASE WHEN drops > keeps THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_drop,
         |  CAST(sum(CASE WHEN keeps = drops THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_abstain
         |FROM lab""".stripMargin))(
      (s, d) => {
        val votes = qualityFlags(s, d).select(col("doc_id"),
          when(col("n_tokens") < 40, 0)
            .when(col("n_tokens") >= 60, 1).as("v_len"),
          when(lit(10) * col("n_sym") > col("n_chars"), 0)
            .when(lit(20) * col("n_sym") < col("n_chars"), 1).as("v_sym"),
          when(col("n_stop_distinct") >= 3, 1)
            .when(col("n_stop_distinct") === 0, 0).as("v_stop"))
        def k(c: String) = when(col(c) === 1, 1).otherwise(0)
        def dr(c: String) = when(col(c) === 0, 1).otherwise(0)
        val lab = votes.select(col("*"),
          (k("v_len") + k("v_sym") + k("v_stop")).as("keeps"),
          (dr("v_len") + dr("v_sym") + dr("v_stop")).as("drops"))
        def nn(c: String) = col(c).isNotNull
        def cnt(cond: org.apache.spark.sql.Column) =
          sum(when(cond, 1).otherwise(0))
        lab.agg(count(lit(1)).as("n_docs"),
          count(col("v_len")).as("cov_len"),
          count(col("v_sym")).as("cov_sym"),
          count(col("v_stop")).as("cov_stop"),
          cnt(nn("v_len") && nn("v_sym")).as("ovl_len_sym"),
          cnt(nn("v_len") && nn("v_stop")).as("ovl_len_stop"),
          cnt(nn("v_sym") && nn("v_stop")).as("ovl_sym_stop"),
          cnt(col("v_len") =!= col("v_sym")).as("con_len_sym"),
          cnt(col("v_len") =!= col("v_stop")).as("con_len_stop"),
          cnt(col("v_sym") =!= col("v_stop")).as("con_sym_stop"),
          cnt(col("keeps") > col("drops")).as("n_keep"),
          cnt(col("drops") > col("keeps")).as("n_drop"),
          cnt(col("keeps") === col("drops")).as("n_abstain"))
      }),

    // ---- CCNet-style perplexity bucketing: score every doc with the
    // corpus-trained bigram LM (shared [[bigramLmCtesSql]] leg), then
    // split EACH LANGUAGE into head/middle/tail terciles by model
    // score — the filtering CCNet runs before keeping head+middle for
    // training. The per-doc score is the exact integer
    // sum_p_scaled DIV n_bigrams (no float compare anywhere), the
    // tercile is ntile(3) over (score DESC, doc_id) — SQL-standard
    // semantics in both engines (first n mod 3 buckets one larger) —
    // and the output is the per-(lang, bucket) doc count with the
    // exact score bounds. Scale shape: the LM model is vocab²-bounded
    // broadcast; the bucketing shuffles once on lang (the window
    // partition key) — per-language sort, never a global one. ----
    QueryDef("q_text_ccnet_buckets", Some(
      s"""WITH $bigramLmCtesSql,
         |sc AS (
         |  SELECT l.doc_id, d.lang, l.sum_p_scaled // l.n_bigrams AS score_scaled
         |  FROM lmdoc l JOIN documents d ON l.doc_id = d.doc_id),
         |b AS (
         |  SELECT lang, doc_id, score_scaled,
         |    ntile(3) OVER (PARTITION BY lang
         |      ORDER BY score_scaled DESC, doc_id) AS nt
         |  FROM sc)
         |SELECT lang,
         |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs,
         |  CAST(min(score_scaled) AS BIGINT) AS min_score,
         |  CAST(max(score_scaled) AS BIGINT) AS max_score
         |FROM b GROUP BY lang, nt""".stripMargin))(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("score_scaled").desc, col("doc_id").asc)
        bigramLmDocScores(s, d)
          .join(Tables(s, d, "documents").select(col("doc_id"), col("lang")),
            "doc_id")
          .select(col("doc_id"), col("lang"),
            expr("sum_p_scaled DIV n_bigrams").as("score_scaled"))
          .withColumn("nt", ntile(3).over(w))
          .groupBy(col("lang"), col("nt"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("score_scaled")).cast("bigint").as("min_score"),
            max(col("score_scaled")).cast("bigint").as("max_score"))
          .select(col("lang"),
            when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
              .otherwise("tail").as("bucket"),
            col("n_docs"), col("min_score"), col("max_score"))
      }),

    // ---- tokenizer fertility per language: subword tokens per word
    // and bytes per subword token — THE multilingual tokenizer-quality
    // metric (a language with fertility ≫ the corpus mean is being
    // over-segmented and will train poorly at the same token budget).
    // Words are whitespace tokens, subwords the BPE-ish regex runs of
    // q_text_tokens_bpe, bytes the text length (ASCII fixture ⇒
    // chars = bytes). All counts exact integers; the two ratios are
    // one double division each of identical integer sums. Scale: one
    // pruned scan → row-local array lengths → a |langs|-row hash
    // aggregate; no join, no window. ----
    QueryDef("q_text_fertility", Some(
      s"""WITH f AS (
         |  SELECT lang,
         |    len(${tokensSql("text")}) AS w,
         |    len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS st,
         |    length(text) AS b
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(st) AS BIGINT) AS n_subtokens,
         |  CAST(sum(b) AS BIGINT) AS n_bytes,
         |  CAST(sum(st) AS DOUBLE) / sum(w) AS fertility,
         |  CAST(sum(b) AS DOUBLE) / sum(st) AS bytes_per_subtoken
         |FROM f GROUP BY lang""".stripMargin))(
      (s, d) =>
        docsPar(s, d)
          .select(col("lang"),
            size(tokens(col("text"))).cast("bigint").as("w"),
            size(regexp_extract_all(col("text"),
              lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0)))
              .cast("bigint").as("st"),
            length(col("text")).cast("bigint").as("b"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("w")).as("n_words"),
            sum(col("st")).as("n_subtokens"),
            sum(col("b")).as("n_bytes"))
          .select(col("lang"), col("n_docs"), col("n_words"),
            col("n_subtokens"), col("n_bytes"),
            (col("n_subtokens").cast("double") / col("n_words"))
              .as("fertility"),
            (col("n_bytes").cast("double") / col("n_subtokens"))
              .as("bytes_per_subtoken"))),

    // ---- Zipf rank-frequency profile: the top-50 tokens with their
    // rank, frequency, and the rank·frequency product — under Zipf's
    // law the product is near-constant, so this one table is the
    // corpus-health check that catches template spam (flat head) or
    // tokenizer breakage (no head at all) at a glance. All integers;
    // the ranking is a TakeOrderedAndProject over the distinct-token
    // counts, then a 50-row window for the rank number. ----
    QueryDef("q_text_zipf", Some(
      s"""WITH c AS (
         |  SELECT t.w AS w, count(*) AS freq
         |  FROM documents, unnest(${tokensSql("text")}) AS t(w)
         |  GROUP BY t.w),
         |top AS (SELECT w, freq FROM c ORDER BY freq DESC, w LIMIT 50)
         |SELECT w AS token, freq,
         |  CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank,
         |  CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) * freq
         |    AS rank_freq
         |FROM top""".stripMargin))(
      (s, d) => {
        val top = Tables(s, d, "documents")
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("w").asc).limit(50)
        val wRank = graft.ops.BoundedWindow
          .ordered(col("freq").desc, col("w").asc)
        top.select(col("w").as("token"), col("freq"),
            row_number().over(wRank).cast("bigint").as("rank"))
          .select(col("token"), col("freq"), col("rank"),
            (col("rank") * col("freq")).as("rank_freq"))
      }),

    // ---- collocation mining (PMI-style lift): adjacent token pairs
    // that co-occur far beyond their unigram frequencies predict —
    // multiword expressions, the phrase-table seed. The score is the
    // transcendental-free LIFT N·c₁₂/(c₁·c₂) (= e^PMI, same ranking):
    // exact-integer cross products, ONE correctly-rounded division.
    // Min support 5 prunes noise; top-20 by (lift, pair) is
    // TakeOrderedAndProject. Counts come from two hash aggregates
    // over the bigram/token streams; the unigram table joins back
    // broadcast (vocab-bounded). Headroom: N·c₁₂ wraps int64 past
    // ~9e18 — lift the products to DECIMAL at web-corpus N·c. ----
    QueryDef("q_text_collocations", Some(
      s"""WITH tok AS (
         |  SELECT t.w AS w
         |  FROM documents, unnest(${tokensSql("text")}) AS t(w)),
         |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
         |n AS (SELECT count(*) AS n FROM tok),
         |bg AS (
         |  SELECT g.g AS g, count(*) AS c12
         |  FROM (SELECT ${tokensSql("text")} AS w FROM documents),
         |    unnest(list_transform(range(1, len(w)),
         |      i -> w[i] || ' ' || w[i+1])) AS g(g)
         |  GROUP BY g.g)
         |SELECT split_part(bg.g, ' ', 1) AS w1,
         |  split_part(bg.g, ' ', 2) AS w2, bg.c12, u1.c AS c1, u2.c AS c2,
         |  CAST(n.n * bg.c12 AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
         |FROM bg
         |  JOIN uni u1 ON u1.w = split_part(bg.g, ' ', 1)
         |  JOIN uni u2 ON u2.w = split_part(bg.g, ' ', 2)
         |  CROSS JOIN n
         |WHERE bg.c12 >= 5
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin))(
      (s, d) => collocations(s, d)),

    // ---- distribution DRIFT per source: exact total-variation
    // distance between each source's doc-length histogram and the
    // corpus-wide one — the release gate that catches a crawler
    // change or a broken source before it contaminates a mix.
    // TV = ½·Σ|aᵢ/b − cᵢ/d| is summed as EXACT integers via the
    // common denominator: Σ|aᵢ·d − cᵢ·b| accumulated in
    // DECIMAL(38,0)/HUGEINT (aᵢ·d wraps int64 only past ~1e18 rows²),
    // ONE division at the end — no order-dependent float sum ever
    // exists. Shape: one histogram aggregate, the |buckets×sources|
    // frame joins the broadcast corpus histogram, then a per-source
    // reduce. ----
    QueryDef("q_text_drift_tv", Some(
      """WITH h AS (
        |  SELECT source, n_chars // 50 AS bucket, count(*) AS a
        |  FROM documents GROUP BY source, n_chars // 50),
        |tot AS (SELECT source, CAST(sum(a) AS BIGINT) AS b FROM h GROUP BY source),
        |corp AS (
        |  SELECT bucket, CAST(sum(a) AS BIGINT) AS c FROM h GROUP BY bucket),
        |n AS (SELECT CAST(sum(a) AS BIGINT) AS d FROM h),
        |terms AS (
        |  SELECT h.source, abs(h.a * n.d - corp.c * tot.b) AS num, tot.b, n.d
        |  FROM h JOIN corp ON corp.bucket = h.bucket
        |    JOIN tot ON tot.source = h.source CROSS JOIN n
        |  UNION ALL
        |  -- buckets the source is MISSING still contribute |0 - c_i/d|
        |  SELECT tot.source, corp.c * tot.b AS num, tot.b, n.d
        |  FROM corp CROSS JOIN n CROSS JOIN tot
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM h WHERE h.source = tot.source AND h.bucket = corp.bucket))
        |SELECT source,
        |  CAST(sum(num) AS DOUBLE) / (2.0 * CAST(min(b) AS DOUBLE)
        |    * CAST(min(d) AS DOUBLE)) AS tv_distance
        |FROM terms GROUP BY source""".stripMargin))(
      (s, d) => {
        val h = Tables(s, d, "documents")
          .groupBy(col("source"), expr("n_chars div 50").as("bucket"))
          .agg(count(lit(1)).as("a"))
          .persist() // histogram feeds totals, corpus marginal, terms
        val tot = h.groupBy(col("source")).agg(sum(col("a")).as("b"))
        val corp = h.groupBy(col("bucket")).agg(sum(col("a")).as("c"))
        val n = h.agg(sum(col("a")).as("d"))
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,0)")
        val present = h
          .join(broadcast(corp), "bucket")
          .join(broadcast(tot), "source")
          .crossJoin(broadcast(n))
          .select(col("source"),
            abs(dec(col("a") * col("d")) - dec(col("c") * col("b")))
              .cast("decimal(38,0)").as("num"),
            col("b"), col("d"))
        val missing = corp.crossJoin(broadcast(n)).crossJoin(broadcast(tot))
          .join(h.select(col("source"), col("bucket"), lit(true).as("has")),
            Seq("source", "bucket"), "left")
          .where(col("has").isNull)
          .select(col("source"),
            dec(col("c") * col("b")).cast("decimal(38,0)").as("num"),
            col("b"), col("d"))
        present.unionAll(missing)
          .groupBy(col("source"))
          .agg((sum(col("num")).cast("double")
            / (lit(2.0) * min(col("b")).cast("double")
              * min(col("d")).cast("double"))).as("tv_distance"))
      }),

    // ---- quantile normalization of a quality score across sources:
    // map each source's score distribution onto the POOLED
    // distribution (a doc at within-source rank r/n_g gets the global
    // score at that quantile) — the calibration step before filtering
    // a multi-source corpus with one threshold, when sources score on
    // different scales. All rank arithmetic is exact integers: target
    // rank t = ceil(r·N / n_g), and the lookup "smallest global value
    // with gcum ≥ t" is the engine's forward as-of shape — the query
    // rows and the global cumulative curve UNION into one frame and a
    // single FOLLOWING-frame first_value resolves every lookup (no
    // per-row subquery, no band join). Windows run over HISTOGRAMS
    // (distinct score values), never over docs. The oracle states the
    // same lookup as a correlated min — different plan, same exact
    // values. ----
    QueryDef("q_text_quality_qnorm", Some(
      """WITH h AS (
        |  SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY source, n_chars),
        |sr AS (
        |  SELECT source, v, c,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS r,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ng
        |  FROM h),
        |g AS (
        |  SELECT n_chars AS v,
        |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT) AS gcum
        |  FROM documents GROUP BY n_chars),
        |n AS (SELECT count(*) AS n FROM documents),
        |q AS (
        |  SELECT sr.source, sr.v, sr.c,
        |    CAST((sr.r * n.n + sr.ng - 1) // sr.ng AS BIGINT) AS t
        |  FROM sr, n)
        |SELECT q.source, q.v, CAST(q.c AS BIGINT) AS n_docs,
        |  (SELECT min(g.v) FROM g WHERE g.gcum >= q.t) AS v_norm
        |FROM q""".stripMargin))(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, d, "documents")
        val h = docs.groupBy(col("source"), col("n_chars").as("v"))
          .agg(count(lit(1)).as("c")).persist()
        val sr = h
          .withColumn("r", sum(col("c")).over(
            Window.partitionBy(col("source")).orderBy(col("v"))))
          .withColumn("ng", sum(col("c")).over(
            Window.partitionBy(col("source"))))
        val g = h.groupBy(col("v")).agg(sum(col("c")).as("gc"))
          .withColumn("gcum", sum(col("gc")).over(graft.ops.BoundedWindow.ordered(col("v"))))
        val n = h.agg(sum(col("c")).as("n"))
        val q = sr.crossJoin(broadcast(n))
          .select(col("source"), col("v"), col("c"),
            expr("CAST((r * n + ng - 1) div ng AS BIGINT)").as("t"))
        // forward as-of: queries keyed by t (tag 0) + curve keyed by
        // gcum (tag 1) in ONE frame; first following curve row wins.
        // gcum == t must resolve to that very curve row, hence tag
        // ordering query-before-curve at equal keys.
        val curve = g.select(lit(null).cast("string").as("source"),
          lit(null).cast("bigint").as("v"), lit(null).cast("bigint").as("c"),
          col("gcum").as("key"), lit(1).as("tag"), col("v").as("vn"))
        val qr = q.select(col("source"), col("v"), col("c"),
          col("t").as("key"), lit(0).as("tag"),
          lit(null).cast("bigint").as("vn"))
        val wFwd = graft.ops.BoundedWindow.ordered(col("key").asc, col("tag").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        qr.unionAll(curve)
          .withColumn("v_norm",
            first(col("vn"), ignoreNulls = true).over(wFwd))
          .where(col("tag") === 0)
          .select(col("source"), col("v"), col("c").cast("bigint").as("n_docs"),
            col("v_norm"))
      }),

    // ---- BM25 ranking over the corpus for a fixed 3-term query
    // ('join','vector','scan'), log-free Robertson variant — math and
    // scale shape documented on [[bm25CtesSql]]/[[bm25Scores]] (shared
    // with the hybrid fusion q_eval_rrf). The top-20 here is
    // TakeOrderedAndProject (per-partition heaps, no global sort). ----
    QueryDef("q_text_bm25", Some(
      s"""WITH $bm25CtesSql
         |SELECT bmagg.doc_id, CAST(dl.dl AS BIGINT) AS dl, bmagg.score
         |FROM bmagg JOIN dl ON bmagg.doc_id = dl.doc_id
         |WHERE bmagg.score > 0
         |ORDER BY bmagg.score DESC, bmagg.doc_id LIMIT 20""".stripMargin))(
      (s, d) =>
        bm25Scores(s, d)
          .where(col("score") > 0)
          .select(col("doc_id"), col("dl").cast("bigint").as("dl"),
            col("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)),

    // ---- BPE ENCODE: train three merges on the corpus and APPLY them
    // — the full train→apply tokenizer round-trip (q_text_bpe_merge
    // stops after scoring one merge). Each round re-counts adjacent
    // symbol pairs over the frequency-weighted VOCABULARY (never the
    // token stream), takes the top pair (count desc, pair asc — the
    // deterministic tie-break), and applies it with plain replace()
    // over a DOUBLE-SPACED symbol string: tokens are stored
    // ' s1  s2  s3 ' (two spaces between symbols, one at each bound),
    // so the pattern ' p1  p2 ' borrows one space from each side and
    // adjacent occurrences DON'T share characters — left-to-right
    // non-overlapping replace() then merges exactly the pairs BPE
    // would (e.g. 'a a a' + (a,a) → 'aa a', and 'a b a b' merges
    // twice), and its replacement ' p1p2 ' restores the double-space
    // invariant for the next round. replace() is literal and
    // left-to-right in both engines, so the rounds are bit-identical.
    // Scale: all merge work is vocab-sized (distinct words), each
    // winning pair is a 1-row broadcast, and per-doc symbol counts
    // come from re-joining the vocab stats to the token stream — the
    // reduce-then-rejoin shape. ----
    QueryDef("q_text_bpe_encode", Some {
      def round(prev: String, out: String) =
        s"""c_$out AS (
           |  SELECT p.p AS pair, sum(s.n) AS cnt
           |  FROM (SELECT n, string_split(trim(sp), '  ') AS a
           |        FROM $prev) s,
           |    unnest(list_transform(range(1, len(s.a)),
           |      i -> s.a[i] || ' ' || s.a[i+1])) AS p(p)
           |  GROUP BY p.p),
           |t_$out AS (SELECT pair FROM c_$out
           |           ORDER BY cnt DESC, pair LIMIT 1),
           |$out AS (
           |  SELECT p.w, p.n,
           |    replace(p.sp, ' ' || replace(t.pair, ' ', '  ') || ' ',
           |                  ' ' || replace(t.pair, ' ', '') || ' ') AS sp
           |  FROM $prev p CROSS JOIN t_$out t)""".stripMargin
      s"""WITH tok AS (
         |  SELECT doc_id, t.w AS w
         |  FROM documents, unnest(${tokensSql("text")}) AS t(w)),
         |wf AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
         |v0 AS (SELECT w, n,
         |  ' ' || array_to_string(list_transform(range(1, len(w) + 1),
         |    i -> w[i:i]), '  ') || ' ' AS sp
         |  FROM wf),
         |${round("v0", "v1")},
         |${round("v1", "v2")},
         |${round("v2", "v3")},
         |ws AS (SELECT w, len(w) AS sym0,
         |         len(string_split(trim(sp), '  ')) AS sym3
         |       FROM v3)
         |SELECT tok.doc_id, count(*) AS n_tokens,
         |  CAST(sum(ws.sym0) AS BIGINT) AS n_sym_chars,
         |  CAST(sum(ws.sym3) AS BIGINT) AS n_sym_bpe
         |FROM tok JOIN ws ON tok.w = ws.w
         |GROUP BY tok.doc_id""".stripMargin
    })(
      (s, d) => {
        val tok = docsPar(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        val wf = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
        // sequence(1, 0) would be DESCENDING — guard zero-length words
        var v = wf.select(col("w"), col("n"),
          when(length(col("w")) >= 1,
            expr("""concat(' ', array_join(transform(
              sequence(1, length(w)), i -> substring(w, i, 1)), '  '), ' ')"""))
            .otherwise(lit("  ")).as("sp"))
        for (_ <- 1 to 3) {
          // persist each round's vocab frame: round k's pair count AND
          // round k+1's merge both read v_k — unpersisted, the two
          // consumers re-derive the whole preceding chain and the plan
          // tree doubles per round (2³ copies of the char-split
          // pipeline by round 3; the DuckDB twin materializes each CTE
          // once). The frame is vocabulary-sized — bounded at any
          // corpus scale, the same posture as the broadcast model.
          // CONTRACT (round-19 ADVICE): the three per-round caches are
          // freed by the catalog drivers' spark.catalog.clearCache()
          // between queries — a library-style caller must clearCache
          // (or unpersist) itself. The eager alternative (persist +
          // count + unpersist v_{k−1} per round) was A/B'd in round 20
          // and REJECTED: 1.14 → 1.67 s (+46%) — the lazy persist's
          // cache builds inside the top-pair broadcast job that runs
          // anyway, while eager pays three extra serialized job
          // rounds; early lazy unpersist instead would reintroduce the
          // exponential re-derivation it exists to stop.
          v = v.persist()
          val pairs = v.select(col("n"),
              expr("split(trim(sp), '  ')").as("a"))
            .select(col("n"), explode(when(size(col("a")) >= 2,
              expr("""transform(sequence(1, size(a) - 1),
                i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"""))
              .otherwise(array().cast("array<string>"))).as("pair"))
          val top = pairs.groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
            .orderBy(col("cnt").desc, col("pair").asc).limit(1)
            .select(col("pair"))
          v = v.crossJoin(broadcast(top))
            .select(col("w"), col("n"),
              expr("""replace(sp, concat(' ', replace(pair, ' ', '  '), ' '),
                concat(' ', replace(pair, ' ', ''), ' '))""").as("sp"))
        }
        val ws = v.select(col("w"),
          length(col("w")).cast("bigint").as("sym0"),
          size(expr("split(trim(sp), '  ')")).cast("bigint")
            .as("sym3"))
        tok.join(broadcast(ws), "w")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("sym0")).cast("bigint").as("n_sym_chars"),
            sum(col("sym3")).cast("bigint").as("n_sym_bpe"))
      })
  )
}
