package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.util.Tables._

/** Vocabulary-model surface: character-n-gram language-model scoring
  * (the KenLM-style perplexity-filter stage of a pretraining data
  * pipeline, scored here with exact integer statistics) over the
  * `documents` corpus (training-data-pipeline surface, SURVEY §7.4).
  */
object VocabModelOps {

  /** Char-trigram LM corpus scoring: train trigram counts on the even
    * half of the corpus (a deterministic key split — never sample() —
    * so both engines see the same training set), then score the odd
    * half per language: trigram coverage (share of score-side trigrams
    * the model has seen) and the mean training frequency of the known
    * ones. This is the shape of a perplexity quality filter with the
    * float log-prob replaced by exact integer statistics: coverage and
    * mean-frequency rank documents the same way at grading time without
    * aggregating IEEE doubles (which would be partition-order
    * dependent); the two ratios are each ONE double divide over exact
    * BIGINTs.
    *
    * Scale shape: trigram extraction is map-side (transform + explode,
    * no shuffle); the trained model aggregates once on the trigram key
    * and is VOCABULARY-bounded (≤ charset³ distinct trigrams) so it
    * broadcasts into the score side at any corpus scale; the per-lang
    * roll-up is vocabulary-bounded too.
    */
  def charTrigramScore(docs: DataFrame): DataFrame = {
    val base = docs.where(col("text").isNotNull && length(col("text")) >= 3)
    def tris(df: DataFrame) = df.select(col("doc_id"), col("lang"),
      explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("tri"))
    val model = tris(base.where(col("doc_id") % 2 === 0))
      .groupBy("tri").agg(count(lit(1)).as("c"))
    tris(base.where(col("doc_id") % 2 === 1))
      .join(broadcast(model), Seq("tri"), "left")
      .groupBy("lang")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tri"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(coalesce(col("c"), lit(0L))).as("mass"))
      .withColumn("coverage",
        col("n_known").cast("double") / col("n_tri").cast("double"))
      .withColumn("mean_known_freq",
        col("mass").cast("double") / col("n_known").cast("double"))
      .orderBy("lang")
  }

  private val charTrigramOracle: String =
    """WITH base AS (
      |  SELECT doc_id, lang, text FROM documents
      |  WHERE text IS NOT NULL AND length(text) >= 3),
      |train AS (
      |  SELECT unnest(list_transform(generate_series(1, length(text) - 2),
      |    i -> substring(text, CAST(i AS INT), 3))) AS tri
      |  FROM base WHERE doc_id % 2 = 0),
      |model AS (SELECT tri, CAST(COUNT(*) AS BIGINT) AS c FROM train GROUP BY tri),
      |score AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, length(text) - 2),
      |      i -> substring(text, CAST(i AS INT), 3))) AS tri
      |  FROM base WHERE doc_id % 2 = 1),
      |agg AS (
      |  SELECT s.lang,
      |    CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_tri,
      |    CAST(SUM(CASE WHEN m.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_known,
      |    CAST(SUM(COALESCE(m.c, 0)) AS BIGINT) AS mass
      |  FROM score s LEFT JOIN model m ON m.tri = s.tri
      |  GROUP BY s.lang)
      |SELECT lang, n_docs, n_tri, n_known, mass,
      |  CAST(n_known AS DOUBLE) / CAST(n_tri AS DOUBLE) AS coverage,
      |  CAST(mass AS DOUBLE) / CAST(n_known AS DOUBLE) AS mean_known_freq
      |FROM agg ORDER BY lang""".stripMargin

  /** Three rounds of byte-pair-encoding vocabulary induction over the
    * corpus word vocabulary: count weighted adjacent symbol pairs, merge
    * the most frequent pair (count desc, pair asc — a total order, so
    * the winner is deterministic), re-tokenize, repeat. q122 graded the
    * FIRST iteration's pair statistics; this grades the actual iterative
    * merge loop — the part where BPE implementations disagree (greedy
    * non-overlapping application, e.g. "a a a" merges to ["aa","a"]).
    *
    * The greedy re-tokenization is a LEFT-TO-RIGHT FOLD over each word's
    * symbol list (Spark `aggregate` HOF / DuckDB `list_reduce` — both
    * fold the same direction): if the accumulated sequence ends with
    * symbol A and the next symbol is B, replace that tail with AB, else
    * append. Identical fold ⇒ identical tokenization in both engines —
    * no reliance on string replace() scan semantics.
    *
    * Scale shape: the word-vocabulary frame is VOCABULARY-bounded, not
    * corpus-bounded — the corpus-sized explode collapses to (word, cnt)
    * in the first aggregate and every later round moves pair counts
    * weighted by those word counts. Each round's argmax is a 1-row
    * TakeOrdered broadcast back via crossJoin (never a driver collect);
    * an at-scale implementation would localCheckpoint the vocabulary
    * between rounds (as q51's connected components does) — at 3 rounds
    * the replayed lineage is cheaper than the checkpoint.
    */
  def bpeMergeRounds(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, merges) = bpeRounds(docs, rounds)
    merges.reduce(_.unionByName(_)).orderBy("round")
  }

  /** Shared BPE induction core: runs `rounds` merge rounds and returns
    * (final word vocabulary with its tokenization, one merge row per
    * round). q180 grades the merges; q217 applies the final vocabulary
    * back to the corpus.
    */
  private[graft] def bpeRounds(docs: DataFrame, rounds: Int): (DataFrame, Seq[DataFrame]) = {
    require(rounds >= 1, "bpeRounds: need at least one round")
    var vocab = docs.where(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("toks", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = vocab
        .where(size(col("toks")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("wcnt"))
      val best = pairs.orderBy(col("wcnt").desc, col("pair").asc).limit(1)
      merges += best.select(lit(r).as("round"), col("pair"), col("wcnt"))
      vocab = vocab
        .crossJoin(broadcast(best.select(
          expr("element_at(split(pair, ' '), 1)").as("best_a"),
          expr("element_at(split(pair, ' '), 2)").as("best_b"))))
        .withColumn("toks", split(expr(
          """aggregate(toks, '', (acc, t) ->
            |  CASE WHEN acc = '' THEN t
            |    WHEN acc = best_a AND t = best_b THEN concat(best_a, best_b)
            |    WHEN endswith(acc, concat(' ', best_a)) AND t = best_b
            |      THEN concat(substring(acc, 1, length(acc) - length(best_a)),
            |                  concat(best_a, best_b))
            |    ELSE concat(acc, ' ', t) END)""".stripMargin), " "))
        .select(col("w"), col("cnt"), col("toks"))
    }
    (vocab, merges.result())
  }

  /** q217 body: ENCODE the corpus with the learned BPE vocabulary — the
    * missing third of the tokenizer tier (q180 learns the merges, q179
    * scores text, this applies them). Tokenizing a corpus is a JOIN,
    * not a per-document re-derivation: the merge loop already produced
    * the final tokenization of every distinct word, so encoding is the
    * corpus word stream equi-joined to that vocabulary relation — at
    * 100 TB the vocabulary is KBs (broadcast; Heaps-law sublinear) and
    * the corpus is touched once at scan speed. Output is the per-
    * language tokenizer fertility report (words, BPE tokens, chars, and
    * tokens-per-10k-chars in exact integer basis points) — the number
    * that decides whether a tokenizer is paying for itself per
    * language.
    */
  def bpeEncodeStats(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (vocab, _) = bpeRounds(docs, rounds)
    val words = docs.where(col("text").isNotNull)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    words.join(broadcast(vocab.select(col("w"),
        size(col("toks")).as("n_toks"), length(col("w")).as("wlen"))),
      Seq("w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        sum(col("wlen")).cast("long").as("n_chars"))
      .withColumn("tokens_per_10k_chars",
        expr("n_tokens * 10000 div n_chars"))
      .orderBy("lang")
  }

  // DuckDB replays the identical three rounds unrolled: list_reduce has
  // no explicit init, but folding from the first element is equivalent
  // to Spark's ''-seeded fold (the first CASE arm only seeds the
  // accumulator). Tokens never contain spaces, so the ends_with tail
  // check detects exactly the token boundary.
  private[ops] def bpeChainSql(rounds: Int): String = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (
         |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS wcnt FROM (
         |    SELECT cnt, unnest(list_transform(
         |      generate_series(1, length(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS pair
         |    FROM $prev WHERE length(toks) >= 2) GROUP BY pair),
         |b$i AS (SELECT pair, wcnt FROM p$i ORDER BY wcnt DESC, pair LIMIT 1),
         |v$i AS (
         |  SELECT w, cnt, string_split(list_reduce(toks, (acc, t) ->
         |    CASE WHEN acc = string_split(b$i.pair, ' ')[1]
         |           AND t = string_split(b$i.pair, ' ')[2]
         |      THEN replace(b$i.pair, ' ', '')
         |      WHEN ends_with(acc, ' ' || string_split(b$i.pair, ' ')[1])
         |           AND t = string_split(b$i.pair, ' ')[2]
         |      THEN substring(acc, 1,
         |          length(acc) - length(string_split(b$i.pair, ' ')[1])) ||
         |        replace(b$i.pair, ' ', '')
         |      ELSE acc || ' ' || t END), ' ') AS toks
         |  FROM $prev CROSS JOIN b$i)""".stripMargin
    }
    s"""v0 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    list_transform(generate_series(1, length(w)),
       |      i -> substring(w, CAST(i AS INT), 1)) AS toks
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w
       |        FROM documents WHERE text IS NOT NULL)
       |  WHERE w <> '' GROUP BY w),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  private val bpeMergeOracle: String =
    s"""WITH ${bpeChainSql(3)}
       |SELECT * FROM (
       |  SELECT 1 AS round, pair, wcnt FROM b1
       |  UNION ALL SELECT 2, pair, wcnt FROM b2
       |  UNION ALL SELECT 3, pair, wcnt FROM b3)
       |ORDER BY round""".stripMargin

  // The encode oracle replays the same 3-round chain, then joins the
  // corpus word stream to the final vocabulary tokenization.
  private val bpeEncodeOracle: String =
    s"""WITH ${bpeChainSql(3)},
       |words AS (
       |  SELECT lang, w FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE w <> '')
       |SELECT words.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(v3.toks)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(length(words.w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(len(v3.toks)) * 10000 // SUM(length(words.w)) AS BIGINT)
       |    AS tokens_per_10k_chars
       |FROM words JOIN v3 ON v3.w = words.w
       |GROUP BY words.lang ORDER BY words.lang""".stripMargin

  /** q262 body: linear text-classifier INFERENCE, the fasttext-style
    * quality/language-filter stage of a pretraining pipeline, with the
    * model trained in-engine by closed-form per-token statistics. The
    * "weight" of a token is its English document-frequency share on a
    * fixed 1e6 micro-unit grid — `en_df * 1e6 div total_df`, integer
    * division, so the model is exact and engine-identical (no log-odds
    * floats to drift). A document's score sums the weights of its
    * DISTINCT tokens; the prediction compares the mean weight against
    * the corpus prior, cross-multiplied into pure BIGINT terms
    * (`score * 1e4  vs  prior_bp * 1e6 * n_toks`, bounded ≤1e15 even at
    * 1e5-token documents). Output is the 2×2 confusion matrix — the
    * numbers a filter-quality dashboard actually tracks.
    *
    * Scale shape: tokenization is map-side; the df aggregation is one
    * vocabulary-bounded shuffle with partial aggregation; the weight
    * table is vocabulary-sized so it BROADCASTS into the token stream at
    * any corpus scale; per-doc scoring shuffles once on doc_id with
    * map-side combine; the prior is a one-row broadcast. The knife-edge
    * threshold (most docs score near the prior) is deliberate — any
    * engine drift in the integer pipeline flips a prediction and fails
    * the hash.
    */
  /** Shared q262/q275 scoring pipeline: per-document integer score
    * (sum of distinct-token weights) and distinct-token count.
    */
  def classifierScores(docs: DataFrame): DataFrame = {
    val docTokens = docs
      .select(col("doc_id"), (col("lang") === "en").as("is_en"),
        explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("doc_id"), col("is_en"), col("tok")).distinct()
    val weights = docTokens
      .groupBy(col("tok"))
      .agg(
        sum(when(col("is_en"), 1L).otherwise(0L)).as("en_df"),
        count(lit(1)).as("total_df"))
      .select(col("tok"),
        expr("en_df * 1000000 div total_df").as("w"))
    docTokens
      .join(broadcast(weights), "tok")
      .groupBy(col("doc_id"), col("is_en"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_toks"))
  }

  def qualityClassifier(docs: DataFrame): DataFrame = {
    val prior = docs.agg(
      expr("sum(case when lang = 'en' then 1 else 0 end) * 10000 div count(1)")
        .as("prior_bp"))
    val scored = classifierScores(docs)
    scored.crossJoin(broadcast(prior))
      .select(col("is_en"),
        (col("score") * 10000L >=
          col("prior_bp") * 1000000L * col("n_toks")).as("pred_en"))
      .groupBy(col("is_en"), col("pred_en"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("is_en"), col("pred_en"))
  }

  private val classifierOracle: String =
    """WITH doc_tokens AS (
      |  SELECT DISTINCT doc_id, lang = 'en' AS is_en,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |toks AS (SELECT * FROM doc_tokens WHERE tok <> ''),
      |weights AS (
      |  SELECT tok,
      |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 1000000
      |      // COUNT(*) AS w
      |  FROM toks GROUP BY tok),
      |prior AS (
      |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000
      |      // COUNT(*) AS prior_bp
      |  FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.is_en, SUM(w.w) AS score, COUNT(*) AS n_toks
      |  FROM toks t JOIN weights w ON t.tok = w.tok
      |  GROUP BY t.doc_id, t.is_en)
      |SELECT s.is_en,
      |  s.score * 10000 >= p.prior_bp * 1000000 * s.n_toks AS pred_en,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM scored s CROSS JOIN prior p
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q275 body: classifier CALIBRATION (the reliability diagram) — per
    * predicted-probability bin, the observed positive rate vs the
    * mean predicted rate, both in integer basis points. Per-document
    * predicted probability is score/(1e6·n_toks); the bin is its
    * ×1000 floor (clamped to 999 — permille bins rather than the
    * usual deciles because this corpus's uniform synthetic tokens
    * concentrate every score in one decile; real diverse corpora
    * grade fine at 10-20 bins, same arithmetic) and the
    * bin's mean prediction is the RATIO OF SUMS
    * (`Σscore·1e4 div Σ(1e6·n_toks)`) — the standard calibration
    * estimator, and the one that stays a single exact integer division
    * (a mean of per-doc rationals with distinct denominators would
    * not). A well-calibrated filter shows observed ≈ predicted per bin;
    * the gap column is what a filter-quality dashboard alarms on.
    * (Σscore ≤ docs·n_toks·1e6 fits BIGINT through ~1e7 average-length
    * docs per bin ×1e4; beyond that the sums move to DECIMAL(38,0) —
    * same note as q176's moments.)
    *
    * Scale shape: rides q262's pipeline (vocabulary-bounded broadcast,
    * one doc-keyed shuffle), then one decile-bounded aggregate.
    */
  def calibrationBins(docs: DataFrame): DataFrame =
    classifierScores(docs)
      .select(col("is_en"),
        least(expr("score * 1000 div (1000000 * n_toks)"), lit(999L))
          .as("bin"),
        col("score"), col("n_toks"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"),
        sum(col("score")).as("s_score"), sum(col("n_toks")).as("s_toks"))
      .select(col("bin"), col("n_docs"), col("n_en"),
        expr("n_en * 10000 div n_docs").as("observed_bp"),
        expr("s_score * 10000 div (s_toks * 1000000)").as("predicted_bp"))
      .orderBy("bin")

  private val calibrationOracle: String =
    """WITH doc_tokens AS (
      |  SELECT DISTINCT doc_id, lang = 'en' AS is_en,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |toks AS (SELECT * FROM doc_tokens WHERE tok <> ''),
      |weights AS (
      |  SELECT tok,
      |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 1000000
      |      // COUNT(*) AS w
      |  FROM toks GROUP BY tok),
      |scored AS (
      |  SELECT t.doc_id, t.is_en, SUM(w.w) AS score, COUNT(*) AS n_toks
      |  FROM toks t JOIN weights w ON t.tok = w.tok
      |  GROUP BY t.doc_id, t.is_en),
      |binned AS (
      |  SELECT LEAST(score * 1000 // (1000000 * n_toks), 999) AS bin,
      |    is_en, score, n_toks
      |  FROM scored)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |  CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 10000 // COUNT(*)
      |    AS BIGINT) AS observed_bp,
      |  CAST(SUM(score) * 10000 // (SUM(n_toks) * 1000000) AS BIGINT)
      |    AS predicted_bp
      |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  /** Shared by the q301 body and its oracle text (the PcaRounds
    * doctrine): the GD step divisor — the update is
    * w_j ← w_j − trunc(G_j / (TrainLrDiv · n)). Chosen by a measured
    * sweep (256k..8192k on the sf0.01 corpus): smaller divisors
    * overshoot the minority class (epoch-2 loss RISES — squared loss
    * under a ±1000-scale feature grid), 1024000 gives the largest
    * epoch-2 decrease while staying inside the hard-sigmoid's linear
    * band.
    */
  val TrainLrDiv = 1024000L

  /** −trunc(g / (TrainLrDiv·n)): the signed integer step, written with
    * the explicit negative branch so Spark's truncating `div` and
    * DuckDB's flooring `//` can never disagree (the pcaOracle pattern).
    */
  private def sdiv(g: String, n: String, div: String): String =
    s"CASE WHEN $g < 0 THEN (-$g) $div ($TrainLrDiv * $n) " +
      s"ELSE -($g $div ($TrainLrDiv * $n)) END"

  /** q301 body: the TRAINING step that closes the classifier loop —
    * DSIR-select (q295) → train → infer (q262) → calibrate (q275): two
    * full-batch gradient-descent epochs of logistic regression with the
    * HARD sigmoid σ̂(z) = clamp(½ + z/4, 0, 1) (the piecewise-linear
    * logistic surrogate), over q262's feature pipeline. The hard sigmoid
    * is what makes training EXACT: scaling it by 4·10⁶ gives
    * p4 = clamp(2·10⁶ + z, 0, 4·10⁶) — a pure integer clamp, no
    * transcendental, no division — so gradients Σ(p4 − 4·10⁶y)·x,
    * updates, and the per-epoch loss are all exact integer arithmetic
    * that hash-matches a full DuckDB oracle. Features per document (all
    * integer): bias 1000, mean distinct-token English-share f1 ∈
    * [0, 1000] permille (q262's score div n_toks), and the capped token
    * count f2 = min(n_toks, 1000). Weights live in micro-units from 0.
    *
    * Graded output: per (epoch, feature) the post-update weight and the
    * loss ENTERING the epoch (mse_u = Σ(p4−4·10⁶y)² div (16·10⁶·n) —
    * micro-units of mean squared error, exactly 250000 at the zero
    * start where σ̂ ≡ ½). The epoch-2 row's mse_u is the loss under the
    * epoch-1 weights, so "training improves the model" is part of the
    * hash-graded surface itself, not just a spec claim (and
    * VocabModelSpec pins the strict decrease on a separable fixture).
    *
    * Scale shape: rides q262's pipeline (vocabulary-bounded broadcast,
    * one doc-keyed shuffle) into a flat checkpointed feature frame; each
    * epoch is ONE scan with map-side combine down to a single gradient
    * row (sums cast through DECIMAL(38,0) — Σ|err4·f| ≤ 4·10⁹/doc wraps
    * a Long near 2·10⁹ docs); the weight row broadcasts back. Full-batch
    * GD on 100 TB is 2 scans — the textbook distributed linear-model
    * epoch (mini-batching changes the slice, not the plan).
    */
  def classifierTrain(docs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val feats = classifierScores(docs)
      .select(
        expr("score * 1000 div (1000000 * n_toks)").as("f1"),
        least(col("n_toks"), lit(1000L)).as("f2"),
        when(col("is_en"), 1L).otherwise(0L).as("y"))
      .localCheckpoint() // 3 consumers (e1, s2, e2) — keep the vocab
                         // shuffle + doc shuffle a one-time cost
    val e1 = feats
      .select(col("f1"), col("f2"),
        (lit(2000000L) - lit(4000000L) * col("y")).as("err4"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("err4").cast(dec) * 1000).as("g0"),
        sum(col("err4").cast(dec) * col("f1")).as("g1"),
        sum(col("err4").cast(dec) * col("f2")).as("g2"),
        sum(col("err4").cast(dec) * col("err4")).as("sse1"))
    val w1 = e1.selectExpr("n", "sse1",
      s"CAST(${sdiv("g0", "n", "div")} AS BIGINT) AS w0",
      s"CAST(${sdiv("g1", "n", "div")} AS BIGINT) AS w1",
      s"CAST(${sdiv("g2", "n", "div")} AS BIGINT) AS w2")
    val s2 = feats.crossJoin(broadcast(w1))
      .select(col("f1"), col("f2"), col("y"),
        col("w0"), col("w1"), col("w2"), col("n"), col("sse1"),
        greatest(least(lit(2000000L) + col("w0") * 1000 +
          col("w1") * col("f1") + col("w2") * col("f2"),
          lit(4000000L)), lit(0L)).as("p4"))
    val e2 = s2
      .select(col("f1"), col("f2"), col("w0"), col("w1"), col("w2"),
        col("n"), col("sse1"),
        (col("p4") - lit(4000000L) * col("y")).as("err4"))
      .groupBy("w0", "w1", "w2", "n", "sse1")
      .agg(sum(col("err4").cast(dec) * 1000).as("g0"),
        sum(col("err4").cast(dec) * col("f1")).as("g1"),
        sum(col("err4").cast(dec) * col("f2")).as("g2"),
        sum(col("err4").cast(dec) * col("err4")).as("sse2"))
    e2.selectExpr(
        "w0", "w1", "w2",
        s"CAST(w0 + ${sdiv("g0", "n", "div")} AS BIGINT) AS v0",
        s"CAST(w1 + ${sdiv("g1", "n", "div")} AS BIGINT) AS v1",
        s"CAST(w2 + ${sdiv("g2", "n", "div")} AS BIGINT) AS v2",
        "CAST(sse1 div (16000000 * n) AS BIGINT) AS m1",
        "CAST(sse2 div (16000000 * n) AS BIGINT) AS m2")
      .selectExpr("""stack(6,
        |  1L, 0L, w0, m1,  1L, 1L, w1, m1,  1L, 2L, w2, m1,
        |  2L, 0L, v0, m2,  2L, 1L, v1, m2,  2L, 2L, v2, m2)
        |AS (epoch, feature, w_micro, mse_u)""".stripMargin)
      .orderBy("epoch", "feature")
  }

  /** q305 body: deterministic MINI-BATCH training epochs — the claim
    * q301's doc makes ("mini-batching changes the slice, not the plan")
    * graded: the same hard-sigmoid integer-exact GD, but each epoch is
    * `TrainBatches` sequential weight updates over md5-hash-sliced
    * batches (the q64 split doctrine: batch = first md5 hex digit of
    * doc_id, bucketed 4 ways by lexicographic thresholds — identical
    * text in both engines, stable under repartition/growth, and
    * uncorrelated with doc_id order). Weights stay exact micro-unit
    * integers; the graded output is the full WEIGHT TRAJECTORY — one
    * row per (epoch, batch, feature) with the post-update weight and
    * the batch size — so any engine drift in any step's gradient is
    * hash-visible.
    *
    * Each step is the SAME uniform update (no epoch-1 shortcut): score
    * the batch under the incoming broadcast weight row, one scan with
    * map-side combine to a single gradient row (DECIMAL(38,0) lanes),
    * divide by TrainLrDiv·n_batch with the explicit-negative-branch
    * integer division. An empty batch (impossible at corpus scale —
    * slices are ~n/4 — but reachable on tiny fixtures) carries the
    * weights through unchanged (the CASE n=0 arm, mirrored in the
    * oracle).
    *
    * Scale shape: q301's — the feature frame is built once (vocabulary
    * shuffle + doc shuffle) and checkpointed flat; each update is ONE
    * scan of its batch slice against a broadcast 1-row weight frame,
    * checkpointed so the E·B-step chain stays flat (the q299 dmin
    * doctrine). Mini-batch GD on 100 TB is E·B bounded scans — the
    * slice changed, the plan did not.
    */
  def classifierTrainMiniBatch(docs: DataFrame,
      epochs: Int = 2): DataFrame = {
    val dec = "decimal(38,0)"
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val feats = classifierScores(docs)
      .select(
        when(h <= "3", 0).when(h <= "7", 1).when(h <= "b", 2)
          .otherwise(3).as("b"),
        expr("score * 1000 div (1000000 * n_toks)").as("f1"),
        least(col("n_toks"), lit(1000L)).as("f2"),
        when(col("is_en"), 1L).otherwise(0L).as("y"))
      .localCheckpoint()
    def upd(w: String, g: String): String =
      s"""CAST($w + CASE WHEN n = 0 THEN 0
         |  WHEN $g < 0 THEN (-$g) div ($TrainLrDiv * n)
         |  ELSE -($g div ($TrainLrDiv * n)) END AS BIGINT)""".stripMargin
    var weights: DataFrame = docs.sparkSession.sql(
      "SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, " +
        "CAST(0 AS BIGINT) AS w2")
    val steps = Seq.newBuilder[DataFrame]
    for (e <- 1 to epochs; i <- 0 until TrainBatches) {
      val g = feats.where(col("b") === i)
        .crossJoin(broadcast(weights))
        .select(col("f1"), col("f2"),
          (greatest(least(lit(2000000L) + col("w0") * 1000 +
            col("w1") * col("f1") + col("w2") * col("f2"),
            lit(4000000L)), lit(0L)) - lit(4000000L) * col("y")).as("err4"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("err4").cast(dec) * 1000).as("g0"),
          sum(col("err4").cast(dec) * col("f1")).as("g1"),
          sum(col("err4").cast(dec) * col("f2")).as("g2"))
      weights = weights.crossJoin(broadcast(g)).selectExpr(
        s"${upd("w0", "g0")} AS w0",
        s"${upd("w1", "g1")} AS w1",
        s"${upd("w2", "g2")} AS w2",
        "CAST(n AS BIGINT) AS nb")
        .localCheckpoint()
      steps += weights.selectExpr(s"CAST($e AS BIGINT) AS epoch",
        s"CAST($i AS BIGINT) AS batch",
        "stack(3, 0L, w0, 1L, w1, 2L, w2) AS (feature, w_micro)",
        "nb AS n_batch")
      weights = weights.select(col("w0"), col("w1"), col("w2"))
    }
    steps.result().reduce(_.unionByName(_))
      .orderBy("epoch", "batch", "feature")
  }

  /** Number of md5-hash mini-batch slices (shared by the q305 body and
    * its generated oracle — the PcaRounds doctrine; the 4-way CASE
    * thresholds are hardwired to this).
    */
  val TrainBatches = 4

  /** Full-corpus hard-sigmoid MSE (micro-units) under given micro-unit
    * weights — the model-evaluation primitive VocabModelSpec uses to
    * prove the mini-batch trajectory's equal-data-pass loss claim
    * against q301's full-batch epochs.
    */
  def hardSigmoidMse(docs: DataFrame, w0: Long, w1: Long, w2: Long): Long = {
    val dec = "decimal(38,0)"
    classifierScores(docs)
      .select(
        expr("score * 1000 div (1000000 * n_toks)").as("f1"),
        least(col("n_toks"), lit(1000L)).as("f2"),
        when(col("is_en"), 1L).otherwise(0L).as("y"))
      .select((greatest(least(lit(2000000L) + lit(w0) * 1000 +
        lit(w1) * col("f1") + lit(w2) * col("f2"),
        lit(4000000L)), lit(0L)) - lit(4000000L) * col("y")).as("err4"))
      .agg((sum(col("err4").cast(dec) * col("err4"))
        / (lit(16000000L).cast(dec) * count(lit(1)).cast(dec)))
        .cast("long").as("mse_u"))
      .collect()(0).getLong(0)
  }

  /** The (tok, w) vocabulary relation of q262's model — per-token
    * English document-frequency share in exact micro-units — built from
    * a given corpus. Factored out so the streaming inference tier
    * (q314) can build it ONCE from the static corpus and broadcast it
    * into every micro-batch; [[classifierScores]] keeps its original
    * inline form (its five graded consumers are untouched), and
    * VocabModelSpec pins the two formulations equal.
    */
  def tokenWeights(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), (col("lang") === "en").as("is_en"),
        explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .distinct()
      .groupBy(col("tok"))
      .agg(sum(when(col("is_en"), 1L).otherwise(0L)).as("en_df"),
        count(lit(1)).as("total_df"))
      .select(col("tok"), expr("en_df * 1000000 div total_df").as("w"))

  /** Per-document (score, n_toks) against a GIVEN vocabulary — the
    * inference half of [[classifierScores]]: distinct tokens inner-join
    * the broadcast weight relation (out-of-vocabulary tokens drop, the
    * honest OOV behavior; a document with no in-vocabulary token drops
    * entirely), then one doc-keyed combine.
    */
  def inferScores(docs: DataFrame, weights: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .distinct()
      .join(broadcast(weights), "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_toks"))

  /** The trained weight row (w0, w1, w2) after q301's two full-batch
    * epochs — the epoch-2 updated weights pivoted out of the graded
    * trajectory, so the deployed model IS the graded one.
    */
  def trainedWeights(docs: DataFrame): DataFrame =
    classifierTrain(docs).where(col("epoch") === 2)
      .groupBy()
      .agg(max(when(col("feature") === 0, col("w_micro"))).as("w0"),
        max(when(col("feature") === 1, col("w_micro"))).as("w1"),
        max(when(col("feature") === 2, col("w_micro"))).as("w2"))

  /** Hard-sigmoid inference under a broadcast trained-weight row: q301's
    * exact integer features and p4 clamp, per document —
    * p4 = clamp(2·10⁶ + w0·1000 + w1·f1 + w2·f2, 0, 4·10⁶), prediction
    * = p4 ≥ 2·10⁶ (σ̂ ≥ ½). Shared verbatim by the streaming component
    * and the replay grade, so the continuous path cannot drift from the
    * batch arithmetic.
    */
  def inferP4(docs: DataFrame, weights: DataFrame,
      trained: DataFrame): DataFrame =
    inferScores(docs, weights)
      .crossJoin(broadcast(trained))
      .select(col("doc_id"),
        greatest(least(lit(2000000L) + col("w0") * 1000 +
          col("w1") * expr("score * 1000 div (1000000 * n_toks)") +
          col("w2") * least(col("n_toks"), lit(1000L)),
          lit(4000000L)), lit(0L)).as("p4"))
      .withColumn("pred_en", col("p4") >= lit(2000000L))

  /** q314 oracle: q301's training chain over the STATIC corpus slice
    * (doc_id % 5 <> 0 — the q233/q307 split), then hard-sigmoid scoring
    * of every delta document against the static vocabulary and the
    * epoch-2 weights. Lives here (not in StreamReplayOps) to share
    * [[sdiv]] and stay textually adjacent to the batch oracle it
    * extends.
    */
  private[ops] val classifierScoreReplaySql: String = {
    val d1 = sdiv("g0", "n", "//")
    val d2 = sdiv("g1", "n", "//")
    val d3 = sdiv("g2", "n", "//")
    s"""WITH static_tokens AS (
      |  SELECT DISTINCT doc_id, lang = 'en' AS is_en,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE doc_id % 5 <> 0),
      |toks AS (SELECT * FROM static_tokens WHERE tok <> ''),
      |weights AS (
      |  SELECT tok,
      |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 1000000
      |      // COUNT(*) AS w
      |  FROM toks GROUP BY tok),
      |scored AS (
      |  SELECT t.doc_id, t.is_en, SUM(w.w) AS score, COUNT(*) AS n_toks
      |  FROM toks t JOIN weights w ON t.tok = w.tok
      |  GROUP BY 1, 2),
      |feats AS (
      |  SELECT score * 1000 // (1000000 * n_toks) AS f1,
      |    LEAST(n_toks, 1000) AS f2,
      |    CAST(is_en AS INTEGER) AS y
      |  FROM scored),
      |e1 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(err4 AS HUGEINT) * 1000) AS g0,
      |    SUM(CAST(err4 AS HUGEINT) * f1) AS g1,
      |    SUM(CAST(err4 AS HUGEINT) * f2) AS g2
      |  FROM (SELECT f1, f2, 2000000 - 4000000 * y AS err4 FROM feats)),
      |w1 AS (
      |  SELECT n,
      |    CAST($d1 AS BIGINT) AS w0,
      |    CAST($d2 AS BIGINT) AS w1,
      |    CAST($d3 AS BIGINT) AS w2
      |  FROM e1),
      |s2 AS (
      |  SELECT f1, f2, y, w0, w1, w2, n,
      |    GREATEST(LEAST(2000000 + w0 * 1000 + w1 * f1 + w2 * f2,
      |      4000000), 0) AS p4
      |  FROM feats, w1),
      |e2 AS (
      |  SELECT w0, w1, w2, n,
      |    SUM(CAST(err4 AS HUGEINT) * 1000) AS g0,
      |    SUM(CAST(err4 AS HUGEINT) * f1) AS g1,
      |    SUM(CAST(err4 AS HUGEINT) * f2) AS g2
      |  FROM (SELECT f1, f2, w0, w1, w2, n,
      |      p4 - 4000000 * y AS err4 FROM s2)
      |  GROUP BY 1, 2, 3, 4),
      |fin AS (
      |  SELECT CAST(w0 + $d1 AS BIGINT) AS v0,
      |    CAST(w1 + $d2 AS BIGINT) AS v1,
      |    CAST(w2 + $d3 AS BIGINT) AS v2
      |  FROM e2),
      |delta_toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE doc_id % 5 = 0),
      |dt AS (SELECT * FROM delta_toks WHERE tok <> ''),
      |dscored AS (
      |  SELECT d.doc_id, SUM(w.w) AS score, COUNT(*) AS n_toks
      |  FROM dt d JOIN weights w ON d.tok = w.tok GROUP BY 1),
      |dp AS (
      |  SELECT doc_id,
      |    GREATEST(LEAST(2000000 + fin.v0 * 1000
      |      + fin.v1 * (score * 1000 // (1000000 * n_toks))
      |      + fin.v2 * LEAST(n_toks, 1000), 4000000), 0) AS p4
      |  FROM dscored, fin)
      |SELECT doc_id, CAST(p4 AS BIGINT) AS p4, p4 >= 2000000 AS pred_en
      |FROM dp ORDER BY doc_id""".stripMargin
  }

  private val miniBatchOracle: String = {
    val batchCase =
      """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3' THEN 0
        |  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7' THEN 1
        |  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 2
        |  ELSE 3 END""".stripMargin
    def upd(w: String, g: String): String =
      s"""CAST($w + CASE WHEN g.n = 0 THEN 0
         |  WHEN g.$g < 0 THEN (-g.$g) // ($TrainLrDiv * g.n)
         |  ELSE -(g.$g // ($TrainLrDiv * g.n)) END AS BIGINT)""".stripMargin
    val steps = (for (e <- 1 to 2; i <- 0 until TrainBatches)
      yield (e, i)).zipWithIndex
    val chain = steps.map { case ((_, i), s0) =>
      val s = s0 + 1
      s"""g$s AS (
         |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |    SUM(CAST(err4 AS HUGEINT) * 1000) AS g0,
         |    SUM(CAST(err4 AS HUGEINT) * f1) AS g1,
         |    SUM(CAST(err4 AS HUGEINT) * f2) AS g2
         |  FROM (SELECT f1, f2,
         |      GREATEST(LEAST(2000000 + w.w0 * 1000 + w.w1 * f1
         |        + w.w2 * f2, 4000000), 0) - 4000000 * y AS err4
         |    FROM feats, ws${s - 1} w WHERE b = $i)),
         |ws$s AS (
         |  SELECT ${upd("w.w0", "g0")} AS w0,
         |    ${upd("w.w1", "g1")} AS w1,
         |    ${upd("w.w2", "g2")} AS w2,
         |    CAST(g.n AS BIGINT) AS nb
         |  FROM ws${s - 1} w, g$s g)""".stripMargin
    }.mkString(",\n")
    val rows = steps.flatMap { case ((e, i), s0) =>
      val s = s0 + 1
      Seq(s"SELECT $e AS epoch, $i AS batch, 0 AS feature, w0 AS w_micro, nb FROM ws$s",
        s"SELECT $e, $i, 1, w1, nb FROM ws$s",
        s"SELECT $e, $i, 2, w2, nb FROM ws$s")
    }.mkString("\n  UNION ALL ")
    s"""WITH doc_tokens AS (
       |  SELECT DISTINCT doc_id, lang = 'en' AS is_en,
       |    unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |toks AS (SELECT * FROM doc_tokens WHERE tok <> ''),
       |weights AS (
       |  SELECT tok,
       |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 1000000
       |      // COUNT(*) AS w
       |  FROM toks GROUP BY tok),
       |scored AS (
       |  SELECT t.doc_id, t.is_en, SUM(w.w) AS score, COUNT(*) AS n_toks
       |  FROM toks t JOIN weights w ON t.tok = w.tok
       |  GROUP BY t.doc_id, t.is_en),
       |feats AS (
       |  SELECT $batchCase AS b,
       |    score * 1000 // (1000000 * n_toks) AS f1,
       |    LEAST(n_toks, 1000) AS f2,
       |    CAST(is_en AS INTEGER) AS y
       |  FROM scored),
       |ws0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |  CAST(0 AS BIGINT) AS w2),
       |$chain
       |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(batch AS BIGINT) AS batch,
       |  CAST(feature AS BIGINT) AS feature,
       |  CAST(w_micro AS BIGINT) AS w_micro, CAST(nb AS BIGINT) AS n_batch
       |FROM (
       |  $rows)
       |ORDER BY epoch, batch, feature""".stripMargin
  }

  private val trainOracle: String = {
    val d1 = sdiv("g0", "n", "//")
    val d2 = sdiv("g1", "n", "//")
    val d3 = sdiv("g2", "n", "//")
    s"""WITH doc_tokens AS (
      |  SELECT DISTINCT doc_id, lang = 'en' AS is_en,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |toks AS (SELECT * FROM doc_tokens WHERE tok <> ''),
      |weights AS (
      |  SELECT tok,
      |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 1000000
      |      // COUNT(*) AS w
      |  FROM toks GROUP BY tok),
      |scored AS (
      |  SELECT t.doc_id, t.is_en, SUM(w.w) AS score, COUNT(*) AS n_toks
      |  FROM toks t JOIN weights w ON t.tok = w.tok
      |  GROUP BY t.doc_id, t.is_en),
      |feats AS (
      |  SELECT score * 1000 // (1000000 * n_toks) AS f1,
      |    LEAST(n_toks, 1000) AS f2,
      |    CAST(is_en AS INTEGER) AS y
      |  FROM scored),
      |e1 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(err4 AS HUGEINT) * 1000) AS g0,
      |    SUM(CAST(err4 AS HUGEINT) * f1) AS g1,
      |    SUM(CAST(err4 AS HUGEINT) * f2) AS g2,
      |    SUM(CAST(err4 AS HUGEINT) * err4) AS sse1
      |  FROM (SELECT f1, f2, 2000000 - 4000000 * y AS err4 FROM feats)),
      |w1 AS (
      |  SELECT n, sse1,
      |    CAST($d1 AS BIGINT) AS w0,
      |    CAST($d2 AS BIGINT) AS w1,
      |    CAST($d3 AS BIGINT) AS w2
      |  FROM e1),
      |s2 AS (
      |  SELECT f1, f2, y, w0, w1, w2, n, sse1,
      |    GREATEST(LEAST(2000000 + w0 * 1000 + w1 * f1 + w2 * f2,
      |      4000000), 0) AS p4
      |  FROM feats, w1),
      |e2 AS (
      |  SELECT w0, w1, w2, n, sse1,
      |    SUM(CAST(err4 AS HUGEINT) * 1000) AS g0,
      |    SUM(CAST(err4 AS HUGEINT) * f1) AS g1,
      |    SUM(CAST(err4 AS HUGEINT) * f2) AS g2,
      |    SUM(CAST(err4 AS HUGEINT) * err4) AS sse2
      |  FROM (SELECT f1, f2, w0, w1, w2, n, sse1,
      |      p4 - 4000000 * y AS err4 FROM s2)
      |  GROUP BY 1, 2, 3, 4, 5),
      |fin AS (
      |  SELECT w0, w1, w2,
      |    CAST(w0 + $d1 AS BIGINT) AS v0,
      |    CAST(w1 + $d2 AS BIGINT) AS v1,
      |    CAST(w2 + $d3 AS BIGINT) AS v2,
      |    CAST(sse1 // (16000000 * n) AS BIGINT) AS m1,
      |    CAST(sse2 // (16000000 * n) AS BIGINT) AS m2
      |  FROM e2)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |  CAST(feature AS BIGINT) AS feature,
      |  CAST(w_micro AS BIGINT) AS w_micro, CAST(mse_u AS BIGINT) AS mse_u
      |FROM (
      |  SELECT 1 AS epoch, 0 AS feature, w0 AS w_micro, m1 AS mse_u FROM fin
      |  UNION ALL SELECT 1, 1, w1, m1 FROM fin
      |  UNION ALL SELECT 1, 2, w2, m1 FROM fin
      |  UNION ALL SELECT 2, 0, v0, m2 FROM fin
      |  UNION ALL SELECT 2, 1, v1, m2 FROM fin
      |  UNION ALL SELECT 2, 2, v2, m2 FROM fin)
      |ORDER BY epoch, feature""".stripMargin
  }

  /** 6-bit-mantissa micro-bits log2 lookup: T[j] = round(10⁶·log2((64+j)/64))
    * for j = 0..63. Computed ONCE on the JVM and embedded as the SAME
    * literal list in the Spark expression and the DuckDB oracle — the
    * q287/q291 "one literal list, no libm parity bet" doctrine applied
    * to logarithms (ln()/log2() round differently across engines within
    * 1 ulp; a shared literal table cannot).
    */
  private val log2MantissaMicro: Seq[Long] = (0 until 64).map(j =>
    Math.round(1e6 * Math.log((64.0 + j) / 64.0) / Math.log(2.0)))

  /** Exact-integer micro-bits log2 of a positive BIGINT column,
    * quantized to 6 mantissa bits: with e = floor(log2(x)) recovered
    * from the binary-string length (exact in both engines — no
    * floating log) and m = the leading 7 bits normalized into
    * [64, 127] (a pure shift: truncating for e > 6, EXACT for e ≤ 6),
    *   L(x) = e·10⁶ + T[m − 64]  ≈  10⁶·log2(x),
    * monotone non-decreasing, engine-identical, max error 2⁻⁶ bits
    * ≈ 0.011 bits. The resolution a perplexity FILTER needs (bands are
    * whole bits); the determinism a hash-graded oracle needs.
    */
  private[ops] def microLog2Spark(x: String): String = {
    val t = log2MantissaMicro.mkString(",")
    s"""(CAST(length(bin($x)) - 1 AS BIGINT) * 1000000L +
       | element_at(array($t), CAST(
       |   (CASE WHEN length(bin($x)) - 1 >= 6
       |     THEN shiftright($x, length(bin($x)) - 7)
       |     ELSE shiftleft($x, 7 - length(bin($x))) END) - 63 AS INT)))"""
      .stripMargin
  }

  private[ops] def microLog2Duck(x: String): String = {
    val t = log2MantissaMicro.mkString(",")
    s"""(CAST(length(bin($x)) - 1 AS BIGINT) * 1000000 +
       | ([$t])[(CASE WHEN length(bin($x)) - 1 >= 6
       |   THEN $x >> (length(bin($x)) - 7)
       |   ELSE $x << (7 - length(bin($x))) END) - 63])"""
      .stripMargin
  }

  /** q328 body: word-bigram LM perplexity quality filter — the CCNet /
    * Gopher signal production pipelines actually gate on (Wenzek et al.
    * 2020 train a LM on trusted text and band documents by perplexity;
    * this is that shape with the LM trained in-engine). Train an
    * add-one-smoothed bigram model on the doc_id-even slice (q179's
    * held-out split):
    *
    *   p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V),
    *
    * score every doc_id-odd document's length-normalized negative
    * log2-likelihood in EXACT INTEGER MICRO-BITS via [[microLog2Spark]]
    * (surprisal = L(den) − L(num), ≥ 0 since num ≤ den and L is
    * monotone), and census by whole-bit perplexity band: gibberish
    * (unseen bigrams) pays ~log2(V) bits per token, fluent text pays
    * the model's compression rate. Documents with < 2 tokens have no
    * bigrams and are out of scope (matching WHERE in both engines).
    *
    * Scale shape: bigram extraction is row-local; the model relations
    * (c₁₂, c₁) are BIGRAM-VOCABULARY-bounded shuffles with partial
    * aggregation (Heaps-law sublinear in a real corpus — the q122
    * arithmetic); scoring is two vocab-keyed equi-joins plus a one-row
    * V broadcast; the census shuffles one partial-agged row per
    * (doc, band). No stage is corpus × corpus.
    */
  def bigramPerplexity(docs: DataFrame): DataFrame =
    pplCensus(bigramPerplexityPerDoc(docs))

  /** Per-doc (doc_id, ppl, n) frame of [[bigramPerplexity]] — exposed
    * for the spec-level bound checks against the interpolated tier.
    */
  private[graft] def bigramPerplexityPerDoc(docs: DataFrame): DataFrame = {
    val (c12, c1, vv) = bigramModel(docs.where(col("doc_id") % 2 === 0))
    scoreBigramsPerDoc(docs.where(col("doc_id") % 2 === 1), c12, c1, vv)
  }

  /** Tokenized word-bigram frame (doc_id, w1, w2); docs with < 2
    * non-empty tokens (or null text) have no bigrams and drop out.
    */
  private[graft] def docBigrams(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> named_struct('w1', element_at(ws, i),
          |                    'w2', element_at(ws, CAST(i + 1 AS INT))))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Add-one bigram model relations from a TRAIN frame: bigram counts
    * c₁₂, prefix counts c₁ (both vocabulary-bounded), and the one-row
    * vocabulary size V. Shared by the batch q328 pipeline and the q333
    * stream-static deployment — one arithmetic, two execution modes.
    */
  private[graft] def bigramModel(
      train: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val bg = docBigrams(train)
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vv = train.where(col("text").isNotNull)
      .select(expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    (c12, c1, vv)
  }

  /** Score a docs frame against the model relations: per-doc
    * (doc_id, ppl, n) in exact micro-bits. Row-local bigram explode +
    * two vocab-keyed left joins + the one-row V broadcast.
    */
  private[graft] def scoreBigramsPerDoc(docs: DataFrame, c12: DataFrame,
      c1: DataFrame, vv: DataFrame): DataFrame =
    docBigrams(docs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vv))
      .select(col("doc_id"),
        (coalesce(col("c12"), lit(0L)) + 1L).as("num"),
        (coalesce(col("c1"), lit(0L)) + col("v")).as("den"))
      .select(col("doc_id"),
        (expr(microLog2Spark("den")) - expr(microLog2Spark("num")))
          .as("s"))
      .groupBy("doc_id")
      .agg(expr("sum(s) div count(1)").as("ppl"), count(lit(1)).as("n"))

  /** Whole-bit perplexity-band census shared by q328/q331/q333. */
  private[graft] def pplCensus(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy(expr("ppl div 1000000").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_bigrams"),
        min(col("ppl")).as("min_ppl_microbits"),
        max(col("ppl")).as("max_ppl_microbits"))
      .orderBy("band")

  /** The q328 oracle parameterized by extra train/score predicates —
    * `("", "")` is q328 itself; q362 passes the takedown's survivor
    * filter on both sides, making the oracle an independent FROM-SCRATCH
    * RETRAIN on the survivors that the engine's unlearned model must
    * match bit-exactly.
    */
  private[graft] def bigramPerplexitySqlFor(trainExtra: String,
      scoreExtra: String): String =
    s"""WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
      |    AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |d2 AS (SELECT doc_id, ws FROM base WHERE len(ws) >= 2),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(ws[1:len(ws) - 1]) AS w1,
      |    unnest(ws[2:len(ws)]) AS w2
      |  FROM d2),
      |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM bg WHERE doc_id % 2 = 0$trainExtra GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      |  FROM bg WHERE doc_id % 2 = 0$trainExtra GROUP BY w1),
      |vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT unnest(ws) AS w FROM d2
      |        WHERE doc_id % 2 = 0$trainExtra)),
      |sc AS (
      |  SELECT s.doc_id,
      |    CAST(COALESCE(c12.c12, 0) + 1 AS BIGINT) AS num,
      |    CAST(COALESCE(c1.c1, 0) + vv.v AS BIGINT) AS den
      |  FROM bg s
      |  LEFT JOIN c12 ON s.w1 = c12.w1 AND s.w2 = c12.w2
      |  LEFT JOIN c1 ON s.w1 = c1.w1
      |  CROSS JOIN vv
      |  WHERE s.doc_id % 2 = 1$scoreExtra),
      |su AS (SELECT sc.doc_id,
      |    ${microLog2Duck("sc.den")} - ${microLog2Duck("sc.num")} AS s
      |  FROM sc),
      |pd AS (SELECT su.doc_id,
      |    CAST(SUM(su.s) // COUNT(*) AS BIGINT) AS ppl,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM su GROUP BY su.doc_id)
      |SELECT CAST(pd.ppl // 1000000 AS BIGINT) AS band,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(pd.n) AS BIGINT) AS n_bigrams,
      |  CAST(MIN(pd.ppl) AS BIGINT) AS min_ppl_microbits,
      |  CAST(MAX(pd.ppl) AS BIGINT) AS max_ppl_microbits
      |FROM pd GROUP BY 1 ORDER BY band""".stripMargin

  private[graft] val bigramPerplexitySql: String =
    bigramPerplexitySqlFor("", "")

  /** q362's oracle: the same census recomputed by DuckDB as a full
    * retrain on the post-takedown survivors (deletion set = q350's
    * doc_id % 13) — the engine side must reproduce it by SUBTRACTING
    * the deleted docs' contributions from the stored model relations.
    */
  private[graft] val unlearnedPerplexitySql: String =
    bigramPerplexitySqlFor(" AND doc_id % 13 <> 0",
      " AND s.doc_id % 13 <> 0")

  // ------------------------------------------------------------------
  // q362: exact model-relation UNLEARNING
  // ------------------------------------------------------------------

  /** The persisted model is TWO relations, not three: the prefix
    * counts c₁ are exactly Σ_{w2} c₁₂(w1, w2) (both aggregate the same
    * bigram frame), so storing them would double every maintenance
    * rewrite for a value one vocabulary-bounded aggregate derives at
    * read time — [[derivedC1]]. cw is NOT derivable (it counts every
    * token including each doc's last, which no bigram sees) and stays.
    */
  final case class LmTables(c12: String, cw: String)

  def lmTables(prefix: String): LmTables =
    LmTables(s"${prefix}_c12", s"${prefix}_cw")

  private def derivedC1(c12: DataFrame): DataFrame =
    c12.groupBy("w1").agg(sum(col("c12")).as("c1"))

  private def lmSave(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, tbl: String): Unit = {
    dropTable(spark, tbl)
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(tbl)
  }

  /** Per-word occurrence counts over a train frame — the additive form
    * of the vocabulary. [[bigramModel]]'s V is a countDistinct, which
    * is NOT a monoid (removing docs can retire a word entirely, and a
    * distinct count cannot see that); its count-backed relation IS one:
    * V = the number of surviving rows after subtraction. This is the
    * extra state a model must persist to be exactly unlearnable.
    */
  private def wordCounts(train: DataFrame): DataFrame =
    train.where(col("text").isNotNull)
      .select(expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))

  /** Persist the q328 bigram model as STORED relations — c₁₂ and the
    * word-count vocabulary — the form [[unlearnLm]] / [[learnLm]] can
    * maintain under deletion/append without a retrain. The highest
    * train doc_id is pinned on c₁₂: the streamed learn's exactly-once
    * watermark ([[graft.streaming.StreamingLmMaintain]]).
    */
  def lmMaterialize(spark: org.apache.spark.sql.SparkSession,
      train: DataFrame, prefix: String): LmTables = {
    val tn = lmTables(prefix)
    val (c12, _, _) = bigramModel(train)
    lmSave(spark, c12, tn.c12)
    lmSave(spark, wordCounts(train), tn.cw)
    pinMaxDocId(spark, tn.c12, maxDocId(train))
    tn
  }

  /** q366's engine: INCREMENTAL model maintenance — the daily-ingest
    * append applied to TRAINED relations. Counts are additive monoids,
    * so folding a new train batch's contributions into the stored
    * relations (one full-outer join per table, coalesced sums) equals a
    * retrain on the union EXACTLY — and unlike the curated/cluster
    * appends, no id-ordering contract is needed: addition is
    * order-independent, which is precisely why count-form relations are
    * the right materialization for a model a pipeline keeps feeding.
    * O(batch) delta compute + vocabulary-bounded rewrites (the
    * [[unlearnLm]] shape with +
    * instead of −; together they close the model lifecycle matrix:
    * materialize / append / unlearn). The fold raises the c₁₂ doc_id
    * pin, so a stream that later redelivers these docs skips them.
    */
  def learnLm(spark: org.apache.spark.sql.SparkSession,
      newTrain: DataFrame, prefix: String): Unit = {
    val tn = lmTables(prefix)
    val (d12, _, _) = bigramModel(newTrain)
    val dw = wordCounts(newTrain)
    def add(tbl: String, keys: Seq[String], cnt: String,
        delta: DataFrame): Unit = {
      val updated = spark.table(tbl).withColumnRenamed(cnt, "a")
        .join(delta.withColumnRenamed(cnt, "d"), keys, "full_outer")
        .select((keys.map(col) :+
          (coalesce(col("a"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as(cnt)): _*)
        .localCheckpoint(true)
      overwriteInPlace(spark, tbl, updated)
    }
    add(tn.c12, Seq("w1", "w2"), "c12", d12)
    add(tn.cw, Seq("w"), "cw", dw)
    pinMaxDocId(spark, tn.c12, maxDocId(newTrain))
  }

  /** Score the odd slice against the STORED model relations — the
    * readback shared by q362 (post-unlearn) and q366 (post-append).
    */
  private[graft] def scoreFromStored(spark: org.apache.spark.sql.SparkSession,
      scoreDocs: DataFrame, prefix: String): DataFrame = {
    val tn = lmTables(prefix)
    val vv = spark.table(tn.cw).agg(count(lit(1)).as("v"))
    pplCensus(scoreBigramsPerDoc(scoreDocs,
      spark.table(tn.c12), derivedC1(spark.table(tn.c12)), vv))
  }

  /** q366 body: materialize the q328 model on the id-leading 80% of the
    * even train slice, APPEND the remaining train docs incrementally,
    * and score the odd slice from the grown stored relations — graded
    * by q328's OWN full SQL oracle: incremental learning must reproduce
    * the from-scratch model bit-exactly (the q355/q360 shared-oracle
    * doctrine, on trained state).
    */
  def appendedPerplexity(spark: org.apache.spark.sql.SparkSession,
      docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    lmMaterialize(spark, train.where(col("doc_id") <= cut), "graft_lma")
    learnLm(spark, train.where(col("doc_id") > cut), "graft_lma")
    scoreFromStored(spark, docs.where(col("doc_id") % 2 === 1),
      "graft_lma")
  }

  /** q362's engine: EXACT unlearning of trained model relations — the
    * takedown doctrine (q350) extended from stored corpora to TRAINED
    * state (VERDICT r14 #4). Every q328 model relation is an additive
    * count monoid, so subtracting the deleted TRAIN docs' contributions
    * (recomputed over the deletion set only — O(deletion), never a
    * corpus retrain) leaves relations PROVABLY equal to a from-scratch
    * retrain on the survivors:
    *
    *   c'(x) = c(x) − c_deleted(x),  rows at zero dropped,
    *   V'    = |{w : cw(w) − cw_deleted(w) > 0}|.
    *
    * The zero-drop is what makes the equality exact rather than
    * approximate: a retrain never sees a retired bigram/word at all,
    * and an unlearned model that kept zero-count rows would leak the
    * deleted docs' vocabulary through V (a real RTBF concern — the
    * model's smoothing denominator remembers how many words the
    * forgotten documents contributed).
    *
    * Scale shape: the deltas are one banded scan over the DELETED docs
    * only; each table rewrite is one vocabulary-bounded left join +
    * filter (the canonical-rewrite doctrine — same as
    * [[AnnIndexOps.takedownIndex]]'s). Nothing touches the surviving
    * corpus text.
    */
  def unlearnLm(spark: org.apache.spark.sql.SparkSession,
      deletedTrain: DataFrame, prefix: String): Unit = {
    val tn = lmTables(prefix)
    val (d12, _, _) = bigramModel(deletedTrain)
    val dw = wordCounts(deletedTrain)
    def subtract(tbl: String, keys: Seq[String], cnt: String,
        delta: DataFrame): Unit = {
      val updated = spark.table(tbl)
        .join(broadcast(delta.withColumnRenamed(cnt, "d")), keys, "left")
        .select((keys.map(col) :+
          (col(cnt) - coalesce(col("d"), lit(0L))).as(cnt)): _*)
        .where(col(cnt) > 0)
        .localCheckpoint(true)
      overwriteInPlace(spark, tbl, updated)
    }
    subtract(tn.c12, Seq("w1", "w2"), "c12", d12)
    subtract(tn.cw, Seq("w"), "cw", dw)
  }

  /** q362 body: train the q328 bigram LM on the even slice, persist the
    * model relations, UNLEARN the takedown deletion set (doc_id % 13 —
    * q350's) by exact count subtraction, then score the surviving odd
    * docs from the unlearned STORED model. Graded by a full SQL oracle
    * that retrains from scratch on the survivors — unlearn == retrain,
    * proven independently by DuckDB rather than by a self-comparison.
    */
  def unlearnedPerplexity(spark: org.apache.spark.sql.SparkSession,
      docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    lmMaterialize(spark, train, "graft_lm")
    unlearnLm(spark, train.where(col("doc_id") % 13 === 0), "graft_lm")
    scoreFromStored(spark,
      docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 13 =!= 0),
      "graft_lm")
  }

  /** q331 body: Jelinek-Mercer INTERPOLATED bigram-unigram perplexity —
    * the backoff refinement CCNet's actual LM carries that pure add-one
    * bigram (q328) lacks: an unseen bigram whose continuation word is
    * COMMON should cost far less than one whose continuation is also
    * unseen. With λ = 1/2,
    *
    *   p = ½·(c₁₂+1)/(c₁+V) + ½·(c(w₂)+1)/(N+V),
    *
    * kept as ONE exact rational — num = (c₁₂+1)(N+V) + (c(w₂)+1)(c₁+V),
    * den = 2(c₁+V)(N+V) — and scored through the same literal-table
    * micro-bits log2 as q328 (surprisal = L(den) − L(num) ≥ 0 because
    * each addend's numerator is ≤ its denominator). Products stay under
    * 2⁶³ through N ~ 10⁸ train tokens; past that the counts pre-scale
    * by a power of two before the rational is formed (a documented
    * quantization step, not an overflow). Since p ≥ p_bigram/2, the
    * interpolated surprisal never exceeds q328's by more than one bit —
    * VocabModelSpec pins that bound and the common-continuation rescue.
    *
    * Scale shape: q328's plus one more vocabulary-bounded relation (the
    * unigram counts) and a second one-row broadcast (N).
    */
  def interpolatedPerplexity(docs: DataFrame): DataFrame =
    pplCensus(interpolatedPerplexityPerDoc(docs))

  /** Per-doc (doc_id, ppl, n) frame of [[interpolatedPerplexity]]. */
  private[graft] def interpolatedPerplexityPerDoc(docs: DataFrame): DataFrame = {
    val toks = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
      .where(size(col("ws")) >= 2)
    val bg = toks.select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> named_struct('w1', element_at(ws, i),
          |                    'w2', element_at(ws, CAST(i + 1 AS INT))))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = bg.where(col("doc_id") % 2 === 0)
    val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val trainToks = toks.where(col("doc_id") % 2 === 0)
      .select(explode(col("ws")).as("w"))
    val cu = trainToks.groupBy("w").agg(count(lit(1)).as("cu"))
    val vn = trainToks.agg(countDistinct(col("w")).as("v"),
      count(lit(1)).as("nn"))
    val scored = bg.where(col("doc_id") % 2 === 1)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(cu.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(vn))
      .select(col("doc_id"),
        ((coalesce(col("c12"), lit(0L)) + 1L) * (col("nn") + col("v")) +
          (coalesce(col("cu"), lit(0L)) + 1L) *
            (coalesce(col("c1"), lit(0L)) + col("v"))).as("num"),
        (lit(2L) * (coalesce(col("c1"), lit(0L)) + col("v")) *
          (col("nn") + col("v"))).as("den"))
      .select(col("doc_id"),
        (expr(microLog2Spark("den")) - expr(microLog2Spark("num")))
          .as("s"))
    scored.groupBy("doc_id")
      .agg(expr("sum(s) div count(1)").as("ppl"), count(lit(1)).as("n"))
  }

  private val interpolatedPerplexitySql: String =
    s"""WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
      |    AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |d2 AS (SELECT doc_id, ws FROM base WHERE len(ws) >= 2),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(ws[1:len(ws) - 1]) AS w1,
      |    unnest(ws[2:len(ws)]) AS w2
      |  FROM d2),
      |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      |  FROM bg WHERE doc_id % 2 = 0 GROUP BY w1),
      |tt AS (SELECT unnest(ws) AS w FROM d2 WHERE doc_id % 2 = 0),
      |cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM tt GROUP BY w),
      |vn AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS nn FROM tt),
      |sc AS (
      |  SELECT s.doc_id,
      |    CAST((COALESCE(c12.c12, 0) + 1) * (vn.nn + vn.v)
      |      + (COALESCE(cu.cu, 0) + 1) * (COALESCE(c1.c1, 0) + vn.v)
      |      AS BIGINT) AS num,
      |    CAST(2 * (COALESCE(c1.c1, 0) + vn.v) * (vn.nn + vn.v)
      |      AS BIGINT) AS den
      |  FROM bg s
      |  LEFT JOIN c12 ON s.w1 = c12.w1 AND s.w2 = c12.w2
      |  LEFT JOIN c1 ON s.w1 = c1.w1
      |  LEFT JOIN cu ON s.w2 = cu.w
      |  CROSS JOIN vn
      |  WHERE s.doc_id % 2 = 1),
      |su AS (SELECT sc.doc_id,
      |    ${microLog2Duck("sc.den")} - ${microLog2Duck("sc.num")} AS s
      |  FROM sc),
      |pd AS (SELECT su.doc_id,
      |    CAST(SUM(su.s) // COUNT(*) AS BIGINT) AS ppl,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM su GROUP BY su.doc_id)
      |SELECT CAST(pd.ppl // 1000000 AS BIGINT) AS band,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(pd.n) AS BIGINT) AS n_bigrams,
      |  CAST(MIN(pd.ppl) AS BIGINT) AS min_ppl_microbits,
      |  CAST(MAX(pd.ppl) AS BIGINT) AS max_ppl_microbits
      |FROM pd GROUP BY 1 ORDER BY band""".stripMargin

  /** q346 body: per-SOURCE perplexity drilldown — the feed-quality
    * dashboard the corpus-wide q328 census can't show: which ingest
    * source ships the gibberish. Per source over the scored slice:
    * doc count, exact mean perplexity (Σppl div n, micro-bits), and
    * how many docs sit above the 5-bit line (q328's gibberish band on
    * this corpus). Same model, same exact micro-bits arithmetic, one
    * extra broadcast-scale join to the doc→source map.
    */
  def sourcePerplexity(docs: DataFrame): DataFrame =
    bigramPerplexityPerDoc(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(ppl) div count(1)").as("mean_ppl_microbits"),
        sum(when(col("ppl") >= 5000000L, 1L).otherwise(0L))
          .as("n_above_5bits"))
      .orderBy("source")

  private val sourcePerplexitySql: String =
    s"""WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
      |    AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |d2 AS (SELECT doc_id, ws FROM base WHERE len(ws) >= 2),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(ws[1:len(ws) - 1]) AS w1,
      |    unnest(ws[2:len(ws)]) AS w2
      |  FROM d2),
      |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      |  FROM bg WHERE doc_id % 2 = 0 GROUP BY w1),
      |vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT unnest(ws) AS w FROM d2 WHERE doc_id % 2 = 0)),
      |sc AS (
      |  SELECT s.doc_id,
      |    CAST(COALESCE(c12.c12, 0) + 1 AS BIGINT) AS num,
      |    CAST(COALESCE(c1.c1, 0) + vv.v AS BIGINT) AS den
      |  FROM bg s
      |  LEFT JOIN c12 ON s.w1 = c12.w1 AND s.w2 = c12.w2
      |  LEFT JOIN c1 ON s.w1 = c1.w1
      |  CROSS JOIN vv
      |  WHERE s.doc_id % 2 = 1),
      |su AS (SELECT sc.doc_id,
      |    ${microLog2Duck("sc.den")} - ${microLog2Duck("sc.num")} AS s
      |  FROM sc),
      |pd AS (SELECT su.doc_id,
      |    CAST(SUM(su.s) // COUNT(*) AS BIGINT) AS ppl
      |  FROM su GROUP BY su.doc_id)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(pd.ppl) // COUNT(*) AS BIGINT) AS mean_ppl_microbits,
      |  CAST(SUM(CASE WHEN pd.ppl >= 5000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above_5bits
      |FROM pd JOIN documents d ON pd.doc_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q346_source_perplexity", Some(sourcePerplexitySql),
      (spark, dir) => sourcePerplexity(t(spark, dir, "documents"))),

    QueryDef("q328_bigram_perplexity", Some(bigramPerplexitySql),
      (spark, dir) => bigramPerplexity(t(spark, dir, "documents"))),

    // Exact model-relation unlearning: subtract the deletion set's
    // contributions from the STORED q328 model (counts are additive
    // monoids; vocabulary kept in count form so V shrinks exactly),
    // score survivors from the unlearned relations. The full SQL
    // oracle retrains from scratch on survivors — unlearn == retrain,
    // proven by an independent engine.
    QueryDef("q362_lm_unlearn", Some(unlearnedPerplexitySql),
      (spark, dir) => unlearnedPerplexity(spark,
        t(spark, dir, "documents"))),

    // Incremental model maintenance: fold a new train batch into the
    // STORED count relations (additive monoids — no id contract
    // needed), score from the grown model; held to q328's OWN oracle:
    // incremental learning == from-scratch training, proven by an
    // independent engine.
    QueryDef("q366_lm_append", Some(bigramPerplexitySql),
      (spark, dir) => appendedPerplexity(spark,
        t(spark, dir, "documents"))),

    QueryDef("q331_interp_perplexity", Some(interpolatedPerplexitySql),
      (spark, dir) => interpolatedPerplexity(t(spark, dir, "documents"))),

    QueryDef("q301_classifier_train", Some(trainOracle),
      (spark, dir) => classifierTrain(t(spark, dir, "documents"))),

    QueryDef("q305_minibatch_train", Some(miniBatchOracle),
      (spark, dir) => classifierTrainMiniBatch(t(spark, dir, "documents"))),

    QueryDef("q262_quality_classifier", Some(classifierOracle),
      (spark, dir) => qualityClassifier(t(spark, dir, "documents"))),

    QueryDef("q275_calibration_bins", Some(calibrationOracle),
      (spark, dir) => calibrationBins(t(spark, dir, "documents"))),

    QueryDef("q179_char_lm", Some(charTrigramOracle),
      (spark, dir) => charTrigramScore(t(spark, dir, "documents"))),

    QueryDef("q180_bpe_merges", Some(bpeMergeOracle),
      (spark, dir) => bpeMergeRounds(t(spark, dir, "documents"))),

    QueryDef("q217_bpe_encode", Some(bpeEncodeOracle),
      (spark, dir) => bpeEncodeStats(t(spark, dir, "documents"))))
}
