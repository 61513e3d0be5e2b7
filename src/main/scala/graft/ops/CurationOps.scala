package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.util.Tables._

/** Training-data curation operators over the `documents` table
  * (SURVEY §7.4 extension surface): within-document repetition filtering
  * (the Gopher-style quality gate), benchmark-contamination detection
  * (n-gram overlap against a held-out eval set), and weighted mixture
  * sampling with upsampling (the data-mixing step before training).
  * All three are exactly SQL-expressible, so each grades against a full
  * DuckDB oracle — no goldens.
  */
object CurationOps {

  /** q294 body: content-defined chunking (CDC) — boundaries where the
    * hash of the local 4-token window lands in 1/16 of hash space
    * (md5 first hex = '0', shared with the oracle verbatim), giving
    * ~16-token mean chunks whose boundaries are functions of CONTENT,
    * not position. The property fixed-stride chunking (q91) lacks and
    * dedup-aware pipelines need: inserting one token near a doc's head
    * shifts every q91 window (all chunk hashes change, dedup misses
    * everything downstream) but only the chunk containing the edit here
    * — CurationSpec pins exactly that, and the rsync/LBFS lineage is
    * the design source. Graded output is the chunk-length histogram
    * (capped at 64 — the grid is bounded by construction).
    *
    * Scale shape: everything before the final 64-key count is ROW-LOCAL
    * array HOFs (gram hash, boundary filter, adjacent-difference) — no
    * window, no join, scan-speed; short docs (< 5 tokens) are a single
    * chunk by definition on both engines.
    */
  def cdcChunkHistogram(docs: DataFrame): DataFrame = {
    val lens = expr(
      """CASE WHEN size(split(text, ' ')) < 5
        |  THEN array(size(split(text, ' ')))
        |ELSE zip_with(
        |  concat(
        |    transform(filter(sequence(2, size(split(text, ' ')) - 3),
        |      i -> substring(md5(array_join(slice(split(text, ' '), i, 4), ' ')), 1, 1) = '0'),
        |      i -> i - 1),
        |    array(size(split(text, ' ')))),
        |  concat(array(0),
        |    transform(filter(sequence(2, size(split(text, ' ')) - 3),
        |      i -> substring(md5(array_join(slice(split(text, ' '), i, 4), ' ')), 1, 1) = '0'),
        |      i -> i - 1)),
        |  (hi, lo) -> hi - lo)
        |END""".stripMargin)
    docs.where(col("text").isNotNull)
      .select(explode(lens).as("clen"))
      .groupBy(least(col("clen"), lit(64)).cast("int").as("chunk_len"))
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy("chunk_len")
  }

  private val cdcChunkSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |b AS (SELECT doc_id, len(toks) AS n,
      |    CASE WHEN len(toks) < 5 THEN [0, len(toks)]
      |    ELSE list_concat(list_concat([0],
      |      list_transform(
      |        list_filter(range(2, len(toks) - 2),
      |          i -> substr(md5(array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 1) = '0'),
      |        i -> i - 1)),
      |      [len(toks)]) END AS cuts
      |  FROM t),
      |l AS (SELECT doc_id,
      |    unnest(list_transform(range(2, len(cuts) + 1),
      |      k -> cuts[k] - cuts[k - 1])) AS clen
      |  FROM b)
      |SELECT CAST(LEAST(clen, 64) AS INT) AS chunk_len,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin


  /** Per-document repetition signals: token count, type (distinct-token)
    * count, the most-frequent-token count, bigram count, and duplicated
    * bigram excess — the inputs to Gopher/C4-style repetition filters. A
    * doc is flagged `repetitive` when its top token is >= 20% of all
    * tokens or >= half of its bigrams are repeats.
    *
    * Scale shape: each document is one row, so the map-side combine of
    * `groupBy(doc_id, term)` collapses a doc's token multiset to its
    * per-term counts BEFORE the shuffle — what moves is the per-doc type
    * count, not the token stream. Two linear shuffles ((doc_id, term) then
    * doc_id), same shape for bigrams; no windows, no self-joins. Flag
    * arithmetic is all-integer so the oracle hash cannot drift.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val live = docs.where(col("text").isNotNull)
    val uni = live
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_tok"))
    val bg = live
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .where(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(l) - 1), i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
        .as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), sum(col("c") - 1).as("dup_bigrams"))
    uni.join(bg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_tok"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("dup_bigrams"), lit(0L)).as("dup_bigrams"))
      .withColumn("repetitive",
        (col("top_tok") * 5 >= col("n_tokens") ||
          col("dup_bigrams") * 2 >= col("n_bigrams")).cast("int"))
      .orderBy("doc_id")
  }

  private val repetitionSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE text IS NOT NULL),
      |tc AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY doc_id, term),
      |uni AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |        CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_tok
      |        FROM tc GROUP BY doc_id),
      |bg AS (SELECT doc_id, bigram, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1),
      |      i -> l[i] || ' ' || l[i + 1])) AS bigram
      |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE text IS NOT NULL)
      |    WHERE len(l) >= 2) GROUP BY doc_id, bigram),
      |bgs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |        CAST(SUM(c - 1) AS BIGINT) AS dup_bigrams FROM bg GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct, top_tok, n_bigrams, dup_bigrams,
      |  CASE WHEN top_tok * 5 >= n_tokens OR dup_bigrams * 2 >= n_bigrams
      |       THEN 1 ELSE 0 END AS repetitive
      |FROM (SELECT u.doc_id, n_tokens, n_distinct, top_tok,
      |        COALESCE(n_bigrams, 0) AS n_bigrams, COALESCE(dup_bigrams, 0) AS dup_bigrams
      |      FROM uni u LEFT JOIN bgs USING (doc_id))
      |ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination scan: flags corpus documents sharing any
    * token 4-gram with a (deterministic, doc_id % 17 = 0) held-out
    * "benchmark" slice — the decontamination step every training corpus
    * runs against its eval sets. Output is per-source contamination
    * counts over the non-benchmark corpus.
    *
    * Scale shape: the benchmark side is ALWAYS small relative to the
    * corpus (eval sets are fixed-size; the corpus is 100 TB), so its
    * distinct shingle set is broadcast and the corpus side never
    * shuffles — one scan producing shingles, a broadcast left-semi
    * probe, and a per-source aggregate. The per-doc `distinct` before
    * the probe bounds fan-out by unique shingles per doc.
    */
  def contamination(docs: DataFrame, benchMod: Int = 17, n: Int = 4): DataFrame = {
    val shingled = docs
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .where(size(col("l")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(l) - ${n - 1}), i -> array_join(slice(l, i, $n), ' '))"))
        .as("sh"))
    val bench = shingled.where(col("doc_id") % benchMod === 0)
      .select("sh").distinct()
    val hits = shingled.where(col("doc_id") % benchMod =!= 0)
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))
    docs.where(col("doc_id") % benchMod =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
      .orderBy("source")
  }

  private val contaminationSql =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 3),
      |    i -> array_to_string(l[i:i+3], ' '))) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE text IS NOT NULL)
      |  WHERE len(l) >= 4),
      |bench AS (SELECT DISTINCT sh FROM g WHERE doc_id % 17 = 0),
      |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (sh) WHERE g.doc_id % 17 <> 0)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 17 <> 0
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Weighted mixture sampling WITH upsampling: each language carries a
    * sampling rate in parts-per-million (fr 2.5x, en 1.2x, de/es 0.5x,
    * zh 0.1x); every doc emits floor(rate) copies plus one more when its
    * deterministic hash falls below the fractional part — the data-mixing
    * step that reweights sources/languages before training. Membership is
    * a pure function of doc_id (Knuth multiplicative hash mod 1e6), so
    * the sample is identical under any partitioning, engine, or corpus
    * growth — which is also what makes it exactly SQL-checkable.
    *
    * Scale shape: row-local arithmetic + a bounded explode (max 3 copies
    * here) — scan speed, zero shuffles beyond the final presentation sort.
    */
  def mixtureSample(docs: DataFrame): DataFrame = {
    val rate = when(col("lang") === "en", 1200000L)
      .when(col("lang") === "de", 500000L)
      .when(col("lang") === "fr", 2500000L)
      .when(col("lang") === "es", 500000L)
      .otherwise(100000L)
    docs.select(col("doc_id"), col("lang"), rate.as("rate_ppm"),
        expr("((doc_id + 1) * 2654435761L) % 1000000L").as("h"))
      .withColumn("n_copies",
        expr("rate_ppm div 1000000L") +
          when(col("h") < col("rate_ppm") % 1000000L, 1L).otherwise(0L))
      .where(col("n_copies") >= 1)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_l"))
      .select(col("doc_id"), col("lang"), col("copy_l").cast("int").as("copy"))
      .orderBy("doc_id", "copy")
  }

  private val mixtureSql =
    """WITH rated AS (SELECT doc_id, lang,
      |    CASE lang WHEN 'en' THEN 1200000 WHEN 'de' THEN 500000 WHEN 'fr' THEN 2500000
      |              WHEN 'es' THEN 500000 ELSE 100000 END AS rate_ppm,
      |    ((doc_id + 1) * 2654435761) % 1000000 AS h
      |  FROM documents),
      |copies AS (SELECT doc_id, lang,
      |    CAST(rate_ppm // 1000000 + CASE WHEN h < rate_ppm % 1000000 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
      |  FROM rated)
      |SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy
      |FROM copies WHERE n_copies > 0 ORDER BY doc_id, copy""".stripMargin

  /** Fixed-width document-length histogram per language — the corpus-shape
    * diagnostic run before choosing curation thresholds. Pure two-key
    * groupBy: map-side partial aggs collapse each partition to its
    * (lang, bin) counts before the one shuffle; scan-speed at any scale.
    */
  def lengthHistogram(docs: DataFrame, width: Int = 100): DataFrame =
    docs.groupBy(col("lang"), expr(s"n_chars div $width").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang", "bin")

  private val lengthHistogramSql =
    """SELECT lang, n_chars // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  /** ASCII text normalization: lowercase, strip non-alphanumerics,
    * collapse runs of spaces, trim — the first pass of every text-cleaning
    * pipeline. The raw corpus is already clean, so three planted messy
    * docs (mixed case, punctuation, ragged spacing, a null) keep the
    * grading non-vacuous; the oracle unions the same literals, so this
    * stays a full SQL oracle, not a golden. Row-local expressions only —
    * scan speed, zero shuffles beyond the presentation sort.
    */
  def normalize(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs.select(col("doc_id"), norm.as("norm_text"))
      .withColumn("n_tokens",
        when(col("norm_text").isNull || col("norm_text") === "", 0L)
          .otherwise(size(split(col("norm_text"), " ")).cast("long")))
      .orderBy("doc_id")
  }

  /** Planted messy docs for [[normalize]] — ids above every real id; the
    * same literals appear in the oracle's UNION ALL.
    */
  private def messyDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (2000000000021L, Some("  Hello,  WORLD!!  This is a   TEST.  ")),
      (2000000000022L, Some("MIXED-case;   punct: yes?  no...")),
      (2000000000023L, Option.empty[String])
    ).toDF("doc_id", "text")
  }

  private val normalizeSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES (2000000000021, '  Hello,  WORLD!!  This is a   TEST.  '),
      |         (2000000000022, 'MIXED-case;   punct: yes?  no...'),
      |         (2000000000023, NULL)),
      |n AS (SELECT doc_id,
      |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |          ' +', ' ', 'g')) AS norm_text
      |      FROM all_docs)
      |SELECT doc_id, norm_text,
      |  CAST(CASE WHEN norm_text IS NULL OR norm_text = '' THEN 0
      |       ELSE len(string_split(norm_text, ' ')) END AS BIGINT) AS n_tokens
      |FROM n ORDER BY doc_id""".stripMargin

  /** Confusable-codepoint fold table: Cyrillic and Greek lookalikes
    * mapped to their Latin skeletons — the homoglyph-evasion class the
    * plain q76 normalizer cannot see (a spammer swapping Latin 'o' for
    * Cyrillic 'о' defeats byte-level dedup while remaining visually
    * identical). Curated single-code-unit BMP pairs only, so Spark's
    * UTF-16 translate and DuckDB's codepoint translate agree exactly.
    */
  private[ops] val ConfusablesFrom =
    "аеорсухіѕјкмтнв" + "οαειυρτκν"
  private[ops] val ConfusablesTo =
    "aeopcyxisjkmthb" + "oaeiuptkv"

  /** q246 body: homoglyph-fold dedup — lowercase, fold confusable
    * Cyrillic/Greek codepoints to Latin, then the q76 normalization
    * (strip non-alphanumerics, collapse spaces, trim), and group docs by
    * the folded key. Groups of ≥2 are reported with their canonical
    * (min) id and the full sorted member list. The corpus is pure-ASCII
    * clean, so planted homoglyph spam ([[homoglyphDocs]]) keeps the fold
    * branch graded, not vacuous. Scale shape: the fold is row-local
    * scan-speed expression work; the ONE shuffle keys on the folded
    * text, and per-group state is bounded by duplicate multiplicity
    * (the q133 collect_list justification).
    */
  def homoglyphDedup(docs: DataFrame): DataFrame = {
    val fold = trim(regexp_replace(regexp_replace(
      translate(lower(col("text")), ConfusablesFrom, ConfusablesTo),
      "[^a-z0-9 ]", ""), " +", " "))
    docs.select(col("doc_id"), fold.as("fold_key"))
      .where(col("fold_key").isNotNull && col("fold_key") =!= "")
      .groupBy("fold_key")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("doc_ids"))
      .where(col("n_docs") > 1)
      .orderBy("fold_key")
  }

  /** Planted homoglyph spam for [[homoglyphDedup]] — ids above every
    * real id; the same literals appear in the oracle's UNION ALL. The
    * first three are visually-identical spellings of one phrase
    * (Cyrillic о/а/с, pure-ASCII punctuation noise, Greek ο); the last
    * two are a heavy-Cyrillic string and its ASCII twin.
    */
  private def homoglyphDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (3000000000031L, Some("jоin hаsh rоw sсan bаtch")),
      (3000000000032L, Some("JOIN hash, row; scan - batch!!")),
      (3000000000033L, Some("jοin hash rοw scan batch")),
      (3000000000034L, Some("сrурtо sраm dос")),
      (3000000000035L, Some("crypto spam doc"))
    ).toDF("doc_id", "text")
  }

  private val homoglyphSql =
    s"""WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES (3000000000031, 'jоin hаsh rоw sсan bаtch'),
      |         (3000000000032, 'JOIN hash, row; scan - batch!!'),
      |         (3000000000033, 'jοin hash rοw scan batch'),
      |         (3000000000034, 'сrурtо sраm dос'),
      |         (3000000000035, 'crypto spam doc')),
      |f AS (SELECT doc_id,
      |        trim(regexp_replace(regexp_replace(
      |          translate(lower(text), '$ConfusablesFrom', '$ConfusablesTo'),
      |          '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fold_key
      |      FROM all_docs)
      |SELECT fold_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS canonical,
      |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
      |FROM f WHERE fold_key IS NOT NULL AND fold_key <> ''
      |GROUP BY fold_key HAVING COUNT(*) > 1
      |ORDER BY fold_key""".stripMargin

  /** Per-language 2-sigma length outliers with EXACT integer moments:
    * flag = (n*x - s1)^2 * (n-1) > 4 * n * (n*s2 - s1^2), i.e.
    * (x - mean)^2 > 4 * sample-variance cleared of divisions. Floating
    * mean/stddev would put boundary docs at the mercy of summation order
    * (Spark partial-agg merge vs DuckDB's), so both sides compute the
    * comparison in exact integer arithmetic (decimal(38,0) / HUGEINT) and
    * the flag cannot drift. n = 1 strata degenerate to 0 > 0 = no outlier
    * on both sides. Scale: one groupBy for the moments, broadcast of the
    * per-lang stats back over the scan — two passes, no window.
    */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val stats = docs.groupBy(col("lang")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("n_chars")).cast("decimal(38,0)").as("s1"),
      sum(col("n_chars") * col("n_chars")).cast("decimal(38,0)").as("s2"))
    val x = col("n_chars").cast("decimal(38,0)")
    val lhs = (col("n") * x - col("s1")) * (col("n") * x - col("s1")) *
      (col("n") - lit(1))
    val rhs = lit(4) * col("n") * (col("n") * col("s2") - col("s1") * col("s1"))
    docs.join(broadcast(stats), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum((lhs > rhs).cast("long")), lit(0L)).as("n_outliers"))
      .orderBy("lang")
  }

  private val lengthOutliersSql =
    """WITH s AS (SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(n_chars) AS HUGEINT) AS s1,
      |    CAST(SUM(n_chars * n_chars) AS HUGEINT) AS s2
      |  FROM documents GROUP BY lang)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(SUM(CASE WHEN (n * n_chars - s1) * (n * n_chars - s1) * (n - 1)
      |         > 4 * n * (n * s2 - s1 * s1) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers
      |FROM documents d JOIN s USING (lang)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Blocked fuzzy matching over short metadata strings (part names):
    * candidate pairs come only from (brand, first-token) blocks — the
    * classic blocking step that bounds the quadratic pair fan-out by
    * block occupancy, never the table size — then exact Levenshtein
    * filters to distance <= maxDist and the pairs aggregate per brand.
    * Cross-block near-matches (first token differs) are out of scope BY
    * DESIGN; that tradeoff is what makes fuzzy dedup feasible at scale,
    * and tightening it means adding blocks (e.g. last-token), not
    * widening to all-pairs. Levenshtein is the built-in codegen'd
    * expression on both engines — integer output, no float drift.
    */
  def fuzzyPairs(parts: DataFrame, maxDist: Int = 3): DataFrame = {
    val p = parts.select(col("p_partkey"), col("p_brand"), col("p_name"),
      split(col("p_name"), " ").getItem(0).as("tok"))
    val a = p.select(col("p_brand"), col("tok"),
      col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("tok"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, Seq("p_brand", "tok"))
      .where(col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("dist") === 0).cast("long")).as("n_exact"),
        sum((col("dist") >= 1).cast("long")).as("n_fuzzy"),
        max(col("dist")).cast("long").as("max_dist"))
      .orderBy("p_brand")
  }

  private val fuzzyPairsSql =
    """WITH p AS (SELECT p_partkey, p_brand, p_name,
      |    string_split(p_name, ' ')[1] AS tok FROM part),
      |pairs AS (SELECT a.p_brand, levenshtein(a.p_name, b.p_name) AS dist
      |  FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.tok = b.tok
      |    AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(SUM(CASE WHEN dist >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
      |  CAST(MAX(dist) AS BIGINT) AS max_dist
      |FROM pairs GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Context-window chunking: split each document into fixed `window`-token
    * chunks advancing by `stride` tokens (overlap = window - stride keeps
    * boundary context in both neighbors) — the example-assembly step
    * between curation and q63's sequence packing. Chunk count is
    * 1 + ceil((n - window) / stride) for n > window, else 1, so every
    * token lands in at least one chunk and the last chunk is never empty.
    *
    * Scale shape: row-local explode bounded by n/stride copies per doc —
    * no shuffle, no window; the fan-out is the output size itself, which
    * is the point of the operator. All-integer arithmetic + exact string
    * slicing, so the full SQL oracle hashes identically.
    */
  def chunkDocs(docs: DataFrame, window: Int = 32, stride: Int = 24): DataFrame = {
    // the chunk-count / slice arithmetic below assumes a forward-moving
    // stride that never skips tokens; outside that range the operator
    // would silently violate the every-token-covered contract (stride >
    // window) or loop on slice lengths <= 0, so misuse fails fast here
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkDocs requires 0 < stride <= window, got window=$window stride=$stride")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .withColumn("n", size(col("l")).cast("long"))
      .withColumn("nc",
        when(col("n") <= window, 1L)
          .otherwise(expr(s"(n - $window + ${stride - 1}) div $stride") + 1L))
      .select(col("doc_id"), col("l"), col("n"),
        explode(expr("sequence(0L, nc - 1)")).as("chunk"))
      .select(col("doc_id"), col("chunk").cast("int").as("chunk"),
        least(lit(window.toLong), col("n") - lit(stride.toLong) * col("chunk"))
          .as("n_chunk_tokens"),
        expr(s"array_join(slice(l, 1 + $stride * chunk, " +
          s"least($window, n - $stride * chunk)), ' ')").as("chunk_text"))
      .orderBy("doc_id", "chunk")
  }

  private val chunkSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n,
      |    CASE WHEN len(l) <= 32 THEN 1
      |         ELSE (len(l) - 32 + 23) // 24 + 1 END AS nc
      |  FROM d),
      |e AS (SELECT doc_id, l, n, unnest(generate_series(0, nc - 1)) AS chunk FROM c)
      |SELECT doc_id, CAST(chunk AS INT) AS chunk,
      |  CAST(LEAST(32, n - 24 * chunk) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(l[1 + 24 * chunk : 24 * chunk + LEAST(32, n - 24 * chunk)], ' ')
      |    AS chunk_text
      |FROM e ORDER BY doc_id, chunk""".stripMargin

  /** PII detection + redaction — the compliance pass every training-data
    * pipeline runs before anything else. Three regex families (email,
    * IPv4, NANP phone), each counted on the RAW text and then redacted
    * sequentially email → ip → phone so a redaction marker can never feed
    * a later pattern. The patterns use only the regex intersection that
    * Java (Spark) and RE2 (DuckDB) evaluate identically: character
    * classes, bounded repetition, `\b` — no lookaround, no backrefs.
    *
    * The raw corpus carries no PII, so five planted docs (emails with
    * plus-addressing and digits, dotted/dashed/spaced phones, multiple
    * IPs, a clean doc, a null) keep the grading non-vacuous; the oracle
    * unions the same literals — full SQL oracle, no golden.
    *
    * Scale shape: row-local regex only — scan speed, zero shuffles beyond
    * the presentation sort; at 100 TB this is a map-only pass that
    * pipelines with whatever runs next.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
    val phoneRe = """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"""
    def n(re: String) =
      when(col("text").isNull, 0L)
        .otherwise(regexp_count(col("text"), lit(re)).cast("long"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), emailRe, "[EMAIL]"),
          ipRe, "[IP]"),
        phoneRe, "[PHONE]")
    docs.select(col("doc_id"), redacted.as("redacted"),
        n(emailRe).as("n_emails"), n(ipRe).as("n_ips"),
        n(phoneRe).as("n_phones"))
      .orderBy("doc_id")
  }

  /** Planted PII docs for [[piiRedact]] — ids above every real id; the
    * same literals appear in the oracle's UNION ALL.
    */
  private def piiDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (3000000000031L, Some("mail alice.smith+work@example.com or bob99@mail.co today")),
      (3000000000032L, Some("hosts 192.168.1.100 and 10.0.0.1 up; call 555-867-5309 or 555.123.4567")),
      (3000000000033L, Some("reach us on 555 123 4567, fallback admin@ops.example.org at 172.16.0.254")),
      (3000000000034L, Some("no pii here, just words and the number 12345")),
      (3000000000035L, Option.empty[String])
    ).toDF("doc_id", "text")
  }

  private val piiRedactSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES (3000000000031, 'mail alice.smith+work@example.com or bob99@mail.co today'),
      |         (3000000000032, 'hosts 192.168.1.100 and 10.0.0.1 up; call 555-867-5309 or 555.123.4567'),
      |         (3000000000033, 'reach us on 555 123 4567, fallback admin@ops.example.org at 172.16.0.254'),
      |         (3000000000034, 'no pii here, just words and the number 12345'),
      |         (3000000000035, NULL))
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
      |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS redacted,
      |  CAST(CASE WHEN text IS NULL THEN 0 ELSE
      |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |    END AS BIGINT) AS n_emails,
      |  CAST(CASE WHEN text IS NULL THEN 0 ELSE
      |    len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
      |    END AS BIGINT) AS n_ips,
      |  CAST(CASE WHEN text IS NULL THEN 0 ELSE
      |    len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))
      |    END AS BIGINT) AS n_phones
      |FROM all_docs ORDER BY doc_id""".stripMargin

  /** URL extraction + domain roll-up + blocklist filtering — the source-
    * hygiene pass of a web-scale corpus: pull every URL out of the text,
    * normalize to a registrable-ish domain (lowercase, strip `www.`),
    * aggregate url/doc counts per domain, and drop blocklisted domains
    * via a broadcast anti-join (the blocklist is tiny by nature — it
    * never shuffles the corpus side).
    *
    * The raw corpus carries no URLs, so planted docs (multi-URL, www and
    * bare variants of the same domain, blocklisted domains, a null) keep
    * the grading non-vacuous; the oracle unions the same literals.
    *
    * Scale shape: extraction is row-local explode (bounded by URL count
    * per doc); one shuffle on domain for the roll-up; blocklist broadcast.
    */
  def domainStats(docs: DataFrame): DataFrame = {
    val urlRe = """https?://[A-Za-z0-9.-]+(/[^ ]*)?"""
    val urls = docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(urlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_replace(
          lower(regexp_extract(col("url"), """https?://([A-Za-z0-9.-]+)""", 1)),
          """^www\.""", "").as("domain"))
    val blocklist = docs.sparkSession.createDataFrame(
      blockedDomains.map(Tuple1(_))).toDF("domain")
    urls.join(broadcast(blocklist), Seq("domain"), "left_anti")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("domain")
  }

  private val blockedDomains = Seq("spam.example.com", "tracker.bad.net")

  /** Planted URL docs for [[domainStats]] — same literals in the oracle. */
  private def urlDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (3000000000041L, Some("see https://spam.example.com/offer and https://docs.example.org/guide now")),
      (3000000000042L, Some("links http://www.news-site.com/a/b then http://news-site.com/c end")),
      (3000000000043L, Some("mixed https://News-Site.com/top https://tracker.bad.net/x http://api.example.org page")),
      (3000000000044L, Some("plain text, no links at all")),
      (3000000000045L, Option.empty[String])
    ).toDF("doc_id", "text")
  }

  private val domainStatsSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES (3000000000041, 'see https://spam.example.com/offer and https://docs.example.org/guide now'),
      |         (3000000000042, 'links http://www.news-site.com/a/b then http://news-site.com/c end'),
      |         (3000000000043, 'mixed https://News-Site.com/top https://tracker.bad.net/x http://api.example.org page'),
      |         (3000000000044, 'plain text, no links at all'),
      |         (3000000000045, NULL)),
      |u AS (SELECT doc_id,
      |    unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(/[^ ]*)?', 0)) AS url
      |  FROM all_docs),
      |d AS (SELECT doc_id,
      |    regexp_replace(lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)),
      |      '^www\.', '') AS domain
      |  FROM u)
      |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM d
      |WHERE domain NOT IN ('spam.example.com', 'tracker.bad.net')
      |GROUP BY domain ORDER BY domain""".stripMargin

  /** Canonical-representative selection: collapse docs whose NORMALIZED
    * text (same transform as [[normalize]]) coincides — the
    * case/punctuation/whitespace variants that exact dedup misses and
    * near-dup dedup treats as a full similarity problem — and keep the
    * richest raw copy per cluster (longest raw text, tiebreak min
    * doc_id). Output is only the collapsed clusters (n_variants >= 2):
    * the keep decision, not a full corpus rewrite.
    *
    * Scale shape: one shuffle on the normalized key; both windows
    * (row_number + count) share the single per-key partition, and a
    * cluster is at most a handful of variants, so the per-key sort is
    * bounded. At 100 TB the key should be md5(norm) instead of the norm
    * string to shrink the exchange — kept as the raw string here so the
    * output is human-auditable; the md5 swap is a one-line projection.
    *
    * The raw corpus carries no case-variant duplicates, so planted
    * variant clusters ([[variantDocs]]) keep the collapse non-vacuous;
    * the singleton planted doc pins that lone docs never surface.
    */
  def canonicalize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val keyed = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), norm.as("norm_key"))
    val byKey = Window.partitionBy("norm_key")
    val pick = byKey.orderBy(length(col("text")).desc, col("doc_id").asc)
    keyed
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_variants", count(lit(1)).over(byKey))
      .where(col("rn") === 1 && col("n_variants") >= 2)
      .select(col("norm_key"), col("doc_id").as("keep_id"),
        col("n_variants").cast("long").as("n_variants"),
        length(col("text")).cast("long").as("keep_chars"))
      .orderBy("norm_key")
  }

  /** Planted variant clusters for [[canonicalize]] — two clusters whose
    * members differ only in case/punctuation/spacing (so their normalized
    * forms coincide exactly) plus one singleton that must NOT surface.
    * Punctuation is always space-adjacent: the normalizer STRIPS
    * non-alphanumerics (it does not replace them with spaces), so an
    * intra-word dash would fuse tokens and break the cluster.
    */
  private[ops] def variantDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (2000000000031L, Some("The quick brown fox jumps over the lazy dog")),
      (2000000000032L, Some("The QUICK, brown fox... jumps over the LAZY dog!!")),
      (2000000000033L, Some("the   quick brown fox jumps over the lazy dog")),
      (2000000000034L, Some("Deduplicate the corpus before training")),
      (2000000000035L, Some("DEDUPLICATE the corpus, before training?!")),
      (2000000000036L, Some("An unpaired document stands alone."))
    ).toDF("doc_id", "text")
  }

  private val canonicalizeSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES (2000000000031, 'The quick brown fox jumps over the lazy dog'),
      |         (2000000000032, 'The QUICK, brown fox... jumps over the LAZY dog!!'),
      |         (2000000000033, 'the   quick brown fox jumps over the lazy dog'),
      |         (2000000000034, 'Deduplicate the corpus before training'),
      |         (2000000000035, 'DEDUPLICATE the corpus, before training?!'),
      |         (2000000000036, 'An unpaired document stands alone.')),
      |k AS (SELECT doc_id, text,
      |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |          ' +', ' ', 'g')) AS norm_key
      |      FROM all_docs WHERE text IS NOT NULL),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY norm_key
      |                           ORDER BY len(text) DESC, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY norm_key) AS nv
      |      FROM k)
      |SELECT norm_key, doc_id AS keep_id, CAST(nv AS BIGINT) AS n_variants,
      |  CAST(len(text) AS BIGINT) AS keep_chars
      |FROM r WHERE rn = 1 AND nv >= 2 ORDER BY norm_key""".stripMargin

  /** Temperature-weighted mixture rates (alpha = 0.5): each source's
    * sampling rate is proportional to the SQUARE ROOT of its character
    * mass — the standard multilingual/multi-source rebalancing that
    * upweights small sources relative to proportional sampling without
    * letting big sources drown the mix. Output: per-source mass, weight,
    * rate, and the allocation of a 100M-char training budget.
    *
    * Cross-engine double determinism, by construction: the per-source
    * mass is an exact integer sum; sqrt is IEEE correctly-rounded in
    * both engines (this is WHY alpha is pinned at 0.5 — pow(x, alpha)
    * carries no such guarantee for general alpha); and the total weight
    * is a LEFT FOLD OVER THE SORTED weight array (`aggregate(array_sort(
    * collect_list(w)))` here, `list_reduce(list_sort(list(w)))` in the
    * oracle) rather than a free-order SUM — a parallel double sum is
    * association-order-dependent, so this is the one place a plain
    * aggregate could drift a ULP between engines. The fold is over one
    * row per SOURCE (a handful), so the driver-sized collect_list is
    * bounded by the source vocabulary, not the corpus.
    *
    * Scale shape: one shuffle to (source) — map-side combine collapses
    * each partition to one row per source first — then a broadcast
    * scalar join of the total. The budget floor() sits on irrational
    * rate values (quotients of square roots of distinct integers), so
    * it cannot straddle a representability boundary.
    */
  def temperatureMixture(docs: DataFrame, budgetChars: Long = 100000000L): DataFrame = {
    val bySrc = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .withColumn("w", sqrt(col("n_chars_total").cast("double")))
    val total = bySrc.agg(
      expr("aggregate(array_sort(collect_list(w)), 0D, (a, x) -> a + x)").as("tw"))
    bySrc.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_chars_total"),
        col("w"), (col("w") / col("tw")).as("rate"),
        floor(col("w") / col("tw") * lit(budgetChars.toDouble)).cast("long")
          .as("alloc_chars"))
      .orderBy("source")
  }

  private val temperatureMixtureSql =
    """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      |  FROM documents GROUP BY source),
      |w AS (SELECT *, sqrt(CAST(n_chars_total AS DOUBLE)) AS w FROM s),
      |t AS (SELECT list_reduce(list_sort(list(w)), (a, x) -> a + x) AS tw FROM w)
      |SELECT source, n_docs, n_chars_total, w, w / tw AS rate,
      |  CAST(floor(w / tw * 100000000) AS BIGINT) AS alloc_chars
      |FROM w, t ORDER BY source""".stripMargin

  /** q311 body: UniMax language sampling (Chung et al. 2023,
    * arXiv:2304.09151) — the waterfilling allocation that replaced
    * temperature sampling (q114) for multilingual pretraining mixes:
    * give every language an EQUAL share of the character budget, except
    * that no language may be repeated past `epochCap` epochs; budget a
    * capped language can't absorb spills evenly onto the rest. Budget
    * here is 3/2 of the corpus (floor-exact integers), so with cap 2 the
    * four small languages saturate at 2 epochs and `en` absorbs the
    * remainder at under 1 epoch — the paper's headline shape (tail
    * languages epoch-capped, head languages under-sampled relative to
    * uniform), visible in the graded rows themselves.
    *
    * The waterfill is solved in closed form, not a driver loop: sort
    * languages by ascending cap (`epochCap`·chars, ties on lang);
    * saturation is prefix-closed in that order (if the fair share
    * already exceeds a language's cap, it exceeds every larger cap
    * after the spill too — the spilled share only grows), so language i
    * is saturated iff EVERY prefix row j ≤ i passes
    * cap_j·(n−j+1) ≤ budget − prefix_caps_{j−1} — a cross-multiplied
    * ALL-INTEGER test (no division), prefix-ANDed with a running MIN.
    * The shared fair share for the unsaturated suffix is then one exact
    * integer floor-division of the unspent budget. Every graded value is
    * integer arithmetic end to end — `epochs_permille` is
    * alloc·1000 div chars — so the full DuckDB oracle hash-matches with
    * no double anywhere.
    *
    * Scale shape: ONE shuffle — the per-language aggregate with map-side
    * combine (the q114 shape). The windows and the scalar agg after it
    * run over one row per LANGUAGE (a bounded vocabulary, ≤ a few
    * hundred in any real corpus), so the single-partition sort window is
    * a no-op at any corpus size; the two scalar frames broadcast back.
    * Long math bounds: cap·n_langs ≤ epochCap·corpus_chars·n_langs —
    * at 10¹⁴ chars (100 TB), cap 2, 200 languages that is 4·10¹⁸,
    * inside Long; past that the sums move to DECIMAL(38,0) lanes.
    */
  def unimaxBudget(docs: DataFrame, epochCap: Int = 2): DataFrame = {
    val byLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("corpus_chars"))
      .withColumn("cap_chars", col("corpus_chars") * epochCap)
    val totals = byLang.agg(
      expr("(sum(corpus_chars) * 3) div 2").as("budget"),
      count(lit(1)).as("n_langs"))
    val ord = Window.orderBy(col("cap_chars"), col("lang"))
    val pfxW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byLang.crossJoin(broadcast(totals))
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("pfx", sum(col("cap_chars")).over(pfxW))
      .withColumn("sat_raw",
        col("cap_chars") * (col("n_langs") - col("i") + 1) <=
          col("budget") - col("pfx") + col("cap_chars"))
      .withColumn("saturated",
        min(when(col("sat_raw"), 1).otherwise(0)).over(pfxW) === 1)
    val fair = ranked.agg(
        max(col("budget")).as("budget"), max(col("n_langs")).as("n_langs"),
        coalesce(sum(when(col("saturated"), col("cap_chars"))), lit(0L))
          .as("sat_chars"),
        sum(when(col("saturated"), 1L).otherwise(0L)).as("n_sat"))
      .select(expr(
        """CASE WHEN n_langs = n_sat THEN CAST(0 AS BIGINT)
          |ELSE (budget - sat_chars) div (n_langs - n_sat) END"""
          .stripMargin).as("fair"))
    ranked.crossJoin(broadcast(fair))
      .withColumn("alloc_chars",
        when(col("saturated"), col("cap_chars")).otherwise(col("fair")))
      .select(col("lang"), col("n_docs"), col("corpus_chars"),
        col("cap_chars"), col("saturated"), col("alloc_chars"),
        expr("(alloc_chars * 1000) div corpus_chars").as("epochs_permille"))
      .orderBy("lang")
  }

  private val unimaxBudgetSql =
    """WITH s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS corpus_chars
      |  FROM documents GROUP BY lang),
      |c AS (SELECT *, corpus_chars * 2 AS cap_chars FROM s),
      |t AS (SELECT CAST((SUM(corpus_chars) * 3) // 2 AS BIGINT) AS budget,
      |    CAST(COUNT(*) AS BIGINT) AS n_langs FROM c),
      |r AS (SELECT c.*, t.budget, t.n_langs,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cap_chars, lang) AS BIGINT) AS i,
      |    CAST(SUM(cap_chars) OVER (ORDER BY cap_chars, lang
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx
      |  FROM c, t),
      |f AS (SELECT *,
      |    MIN(CASE WHEN cap_chars * (n_langs - i + 1)
      |          <= budget - pfx + cap_chars THEN 1 ELSE 0 END)
      |      OVER (ORDER BY cap_chars, lang ROWS UNBOUNDED PRECEDING) = 1
      |      AS saturated
      |  FROM r),
      |lvl AS (SELECT CASE
      |    WHEN COUNT(*) FILTER (WHERE NOT saturated) = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST((MAX(budget)
      |        - COALESCE(SUM(cap_chars) FILTER (WHERE saturated), 0))
      |      // COUNT(*) FILTER (WHERE NOT saturated) AS BIGINT) END AS fair
      |  FROM f)
      |SELECT lang, n_docs, corpus_chars, cap_chars, saturated,
      |  CASE WHEN saturated THEN cap_chars ELSE lvl.fair END AS alloc_chars,
      |  CAST((CASE WHEN saturated THEN cap_chars ELSE lvl.fair END) * 1000
      |    // corpus_chars AS BIGINT) AS epochs_permille
      |FROM f, lvl ORDER BY lang""".stripMargin

  /** Deciles (1/10 .. 9/10); [[equidepthBins]] computes the same list
    * for bins = 10, so the fraction literals — and therefore the
    * interpolated boundary doubles — agree between the two engines.
    */
  private val decileFractions: Seq[Double] = (1 until 10).map(_ / 10.0)

  // NOTE: must be declared ABOVE `defs` — object vals initialize in
  // declaration order, and a forward reference from the defs Seq would
  // capture null into Some(...) (escapes the Option guard in SparkEntry).
  private val equidepthSql: String =
    s"""WITH b AS (SELECT quantile_cont(o_totalprice,
       |    [${decileFractions.mkString(", ")}]) AS bl FROM orders),
       |a AS (SELECT o_totalprice,
       |    CAST(len(list_filter(b.bl, x -> o_totalprice > x)) + 1 AS INT) AS bin
       |  FROM orders, b)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(o_totalprice) AS p_min, MAX(o_totalprice) AS p_max,
       |  ${sqlMoneySum("o_totalprice")} AS rev
       |FROM a GROUP BY 1 ORDER BY bin""".stripMargin

  /** Per-document quality-gate mask: five independent drop reasons as a
    * bitmask — bit 0 short (n_chars < 150), bit 1 few tokens (< 25),
    * bit 2 low alpha ratio (10·alpha < 7·n_chars, cross-multiplied
    * integers so no double threshold can drift between engines), bit 3
    * repetitive (top token > 20% of tokens), bit 4 language off the
    * allowlist. The mask — not a boolean — is the useful artifact: it
    * answers "why was each doc dropped" and makes filter ablations a
    * GROUP BY instead of a pipeline re-run.
    *
    * Scale shape: one doc_id-keyed shuffle for the per-doc top-token
    * count (map-side combine collapses each doc's token multiset to its
    * type counts first — q65's shape); every other signal is scan-speed
    * row-local arithmetic.
    */
  def qualityMask(docs: DataFrame): DataFrame = {
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).as("ntok"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("alpha"),
        col("text"))
    val topTok = base
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("max_tok"))
    base.join(topTok, Seq("doc_id"))
      .withColumn("mask",
        when(col("n_chars") < 150, 1).otherwise(0) +
          when(col("ntok") < 25, 2).otherwise(0) +
          when(col("alpha") * 10 < col("n_chars") * 7, 4).otherwise(0) +
          when(col("max_tok") * 5 > col("ntok"), 8).otherwise(0) +
          when(!col("lang").isInCollection(Seq("en", "es", "de", "fr")), 16)
            .otherwise(0))
      .select(col("doc_id"), col("source"), col("ntok"), col("mask"))
  }

  private val maskSqlCte: String =
    """base AS (SELECT doc_id, source, lang, n_chars,
      |    len(string_split(text, ' ')) AS ntok,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
      |  FROM documents WHERE text IS NOT NULL),
      |tt AS (SELECT doc_id, MAX(c) AS max_tok FROM (
      |    SELECT doc_id, tok, COUNT(*) AS c
      |    FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |    WHERE text IS NOT NULL GROUP BY doc_id, tok) GROUP BY doc_id),
      |m AS (SELECT b.doc_id, b.source, b.ntok,
      |    (CASE WHEN b.n_chars < 150 THEN 1 ELSE 0 END)
      |  + (CASE WHEN b.ntok < 25 THEN 2 ELSE 0 END)
      |  + (CASE WHEN 10 * b.alpha < 7 * b.n_chars THEN 4 ELSE 0 END)
      |  + (CASE WHEN 5 * tt.max_tok > b.ntok THEN 8 ELSE 0 END)
      |  + (CASE WHEN b.lang NOT IN ('en', 'es', 'de', 'fr') THEN 16
      |     ELSE 0 END) AS mask
      |  FROM base b JOIN tt USING (doc_id))""".stripMargin

  /** q191: per-source audit of the quality gates — kept count, one count
    * per reason bit, and the multi-reason overlap (popcount >= 2).
    */
  def filterReasons(docs: DataFrame): DataFrame =
    qualityMask(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mask") === 0, 1L).otherwise(0L)).as("n_kept"),
        sum(when((col("mask").bitwiseAND(1)) =!= 0, 1L).otherwise(0L))
          .as("n_short"),
        sum(when((col("mask").bitwiseAND(2)) =!= 0, 1L).otherwise(0L))
          .as("n_few_tokens"),
        sum(when((col("mask").bitwiseAND(4)) =!= 0, 1L).otherwise(0L))
          .as("n_low_alpha"),
        sum(when((col("mask").bitwiseAND(8)) =!= 0, 1L).otherwise(0L))
          .as("n_repetitive"),
        sum(when((col("mask").bitwiseAND(16)) =!= 0, 1L).otherwise(0L))
          .as("n_lang"),
        sum(when(bit_count(col("mask")) >= 2, 1L).otherwise(0L))
          .as("n_multi"))
      .orderBy("source")

  private val filterReasonsSql: String =
    s"""WITH $maskSqlCte
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN mask = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN (mask & 1) != 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_short,
       |  CAST(SUM(CASE WHEN (mask & 2) != 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_few_tokens,
       |  CAST(SUM(CASE WHEN (mask & 4) != 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_low_alpha,
       |  CAST(SUM(CASE WHEN (mask & 8) != 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_repetitive,
       |  CAST(SUM(CASE WHEN (mask & 16) != 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_lang,
       |  CAST(SUM(CASE WHEN bit_count(mask) >= 2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_multi
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** q192: single-filter ablation — for each reason, how many flagged
    * docs would return if JUST that filter were disabled (mask == its
    * bit alone) and how many tokens that recovers. The broadcast 5-row
    * reason relation fans each flagged doc to its reasons; the corpus
    * never moves twice.
    */
  def filterAblation(docs: DataFrame): DataFrame = {
    val reasons = docs.sparkSession.sql(
      "SELECT * FROM VALUES ('short', 1), ('few_tokens', 2), " +
        "('low_alpha', 4), ('repetitive', 8), ('lang_offlist', 16)" +
        " AS r(reason, bit)")
    qualityMask(docs)
      .join(broadcast(reasons), expr("(mask & bit) != 0"))
      .groupBy("reason")
      .agg(count(lit(1)).as("docs_flagged"),
        sum(when(col("mask") === col("bit"), 1L).otherwise(0L))
          .as("docs_solely"),
        sum(when(col("mask") === col("bit"), col("ntok").cast("long"))
          .otherwise(0L)).as("tokens_recovered"))
      .orderBy("reason")
  }

  private val filterAblationSql: String =
    s"""WITH $maskSqlCte,
       |r(reason, bit) AS (VALUES ('short', 1), ('few_tokens', 2),
       |  ('low_alpha', 4), ('repetitive', 8), ('lang_offlist', 16))
       |SELECT reason, CAST(COUNT(*) AS BIGINT) AS docs_flagged,
       |  CAST(SUM(CASE WHEN mask = bit THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_solely,
       |  CAST(SUM(CASE WHEN mask = bit THEN ntok ELSE 0 END) AS BIGINT)
       |    AS tokens_recovered
       |FROM m JOIN r ON (mask & bit) != 0
       |GROUP BY reason ORDER BY reason""".stripMargin

  /** Budget-constrained greedy mixture (q198): fill a character budget
    * with whole sources in descending kept-rate order (q191's mask
    * decides "kept"; rate ties break on source name), taking a final
    * PARTIAL source to land exactly on the budget — the "fill a 100B-
    * token budget by quality" selection step that runs after scoring
    * and before sampling. The greedy scan is a cumulative window over
    * the SOURCE-dimension frame (tens of rows — catalog-bounded by
    * construction, PlanSpec allowlist) on top of one doc-level rollup;
    * the corpus itself is touched once, scan-speed.
    *
    * Exactness: kept chars and budgets are BIGINT; the ordering key is
    * the one place a ratio appears, and both engines order by the same
    * double division of the same integers (ties then on the name).
    */
  def budgetMix(docs: DataFrame, budgetChars: Long = 50000L): DataFrame = {
    require(budgetChars > 0, s"budget must be positive, got $budgetChars")
    val bySource = qualityMask(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mask") === 0, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("mask") === 0, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
    val order = Window.orderBy(
      (col("n_kept").cast("double") / col("n_docs").cast("double")).desc,
      col("source").asc)
    val ranked = bySource
      .withColumn("rnk", row_number().over(order).cast("int"))
      .withColumn("cum", sum(col("kept_chars")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked
      .where(col("cum") - col("kept_chars") < budgetChars)
      .select(col("rnk"), col("source"), col("n_docs"), col("n_kept"),
        col("kept_chars"),
        least(col("kept_chars"), lit(budgetChars) - (col("cum") - col("kept_chars")))
          .as("chars_taken"),
        (col("cum") >= budgetChars).cast("int").as("is_partial"))
      .orderBy("rnk")
  }

  private val budgetMixSql: String =
    s"""WITH $maskSqlCte,
       |src AS (SELECT m.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN mask = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_kept,
       |    CAST(SUM(CASE WHEN mask = 0 THEN d.n_chars ELSE 0 END) AS BIGINT)
       |      AS kept_chars
       |  FROM m JOIN documents d USING (doc_id) GROUP BY m.source),
       |r AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER w AS INT) AS rnk,
       |    SUM(kept_chars) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS cum
       |  FROM src
       |  WINDOW w AS (ORDER BY CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    DESC, source ASC))
       |SELECT rnk, source, n_docs, n_kept, kept_chars,
       |  CAST(LEAST(kept_chars, 50000 - (cum - kept_chars)) AS BIGINT)
       |    AS chars_taken,
       |  CAST(cum >= 50000 AS INT) AS is_partial
       |FROM r WHERE cum - kept_chars < 50000
       |ORDER BY rnk""".stripMargin

  /** Pipeline funnel audit (q200): the whole curation chain as ONE
    * graded query — raw → benchmark-holdout split → quality gate
    * (q191's mask) → exact dedup (min doc_id per verbatim text) →
    * decontamination (q66's 4-gram probe against the holdout) →
    * chunk accounting (q91's window/stride arithmetic) — reporting
    * docs and tokens surviving each stage. This is the report a data
    * lead reads before a training run ("we started with X tokens and
    * ship Y"); every stage count is recomputed independently by the
    * DuckDB oracle, so a silent semantics drift in ANY composed
    * operator breaks the hash.
    *
    * Scale shape: one corpus scan feeds the mask (its top-token shuffle
    * is doc-keyed), the dedup min is one text-keyed shuffle (at 100 TB
    * the key is xxhash64(text), q23's shape), the contamination probe
    * broadcasts the holdout shingle set, and the chunk stage is pure
    * row-local arithmetic — the funnel costs what its stages cost, no
    * extra passes.
    */
  def pipelineFunnel(docs: DataFrame): DataFrame = {
    val masked = qualityMask(docs)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    val corpus = masked.where(col("doc_id") % 17 =!= 0)
    val quality = corpus.where(col("mask") === 0)
    val deduped = quality.join(
      quality.groupBy("text").agg(min(col("doc_id")).as("keep")),
      col("doc_id") === col("keep"), "left_semi")
    // holdout shingles from RAW bench docs (contamination is judged
    // against the eval set as it exists, not its post-filter subset)
    val shingled = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .where(size(col("l")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(l) - 3), i -> array_join(slice(l, i, 4), ' '))"))
        .as("sh"))
    val bench = shingled.where(col("doc_id") % 17 === 0).select("sh").distinct()
    val contaminated = shingled.where(col("doc_id") % 17 =!= 0)
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    def stage(name: String, rank: Int, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("ntok").cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(rank).as("stage"), lit(name).as("name"),
          col("n_docs"), col("n_tokens"))
    val chunks = clean.select(col("ntok"),
        (expr("(greatest(ntok - 32, 0) + 23) div 24") + 1).as("n_chunks"))
      .agg(coalesce(sum(col("n_chunks")), lit(0L)).as("n_docs"),
        coalesce(sum(col("ntok").cast("long")), lit(0L)).as("n_tokens"))
      .select(lit(5).as("stage"), lit("chunks").as("name"),
        col("n_docs"), col("n_tokens"))
    stage("corpus", 1, corpus)
      .unionByName(stage("quality", 2, quality))
      .unionByName(stage("deduped", 3, deduped))
      .unionByName(stage("decontaminated", 4, clean))
      .unionByName(chunks)
      .orderBy("stage")
  }

  private val pipelineFunnelSql: String =
    s"""WITH $maskSqlCte,
       |mt AS (SELECT m.doc_id, m.ntok, m.mask, d.text
       |  FROM m JOIN documents d USING (doc_id)),
       |corpus AS (SELECT * FROM mt WHERE doc_id % 17 != 0),
       |quality AS (SELECT * FROM corpus WHERE mask = 0),
       |ded AS (SELECT q.* FROM quality q
       |  JOIN (SELECT text, MIN(doc_id) AS keep FROM quality GROUP BY text) k
       |    ON q.doc_id = k.keep),
       |g AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(l) - 3),
       |      i -> array_to_string(l[i:i+3], ' '))) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |        WHERE text IS NOT NULL)
       |  WHERE len(l) >= 4),
       |bench AS (SELECT DISTINCT sh FROM g WHERE doc_id % 17 = 0),
       |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (sh)
       |        WHERE g.doc_id % 17 != 0),
       |clean AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM bad))
       |SELECT * FROM (
       |  SELECT 1 AS stage, 'corpus' AS name,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS n_tokens FROM corpus
       |  UNION ALL
       |  SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM quality
       |  UNION ALL
       |  SELECT 3, 'deduped', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM ded
       |  UNION ALL
       |  SELECT 4, 'decontaminated', CAST(COUNT(*) AS BIGINT),
       |    CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM clean
       |  UNION ALL
       |  SELECT 5, 'chunks',
       |    CAST(COALESCE(SUM((GREATEST(ntok - 32, 0) + 23) // 24 + 1), 0)
       |      AS BIGINT),
       |    CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM clean)
       |ORDER BY stage""".stripMargin

  /** q348 body: CURATED-CORPUS MATERIALIZATION — the step every tier
    * above exists for: scrub duplicate paragraphs
    * ([[DedupOps.scrubbedDocs]], keep-first), gate the scrubbed text
    * through the row-local quality rules
    * ([[graft.streaming.StreamingCurationGate.gateFrame]] — the SAME
    * expressions the streaming chain runs), persist the survivors as a
    * lang-partitioned managed table (the K1 write), and census the
    * READBACK — the graded rows come from `spark.table`, so the write
    * path is inside the grade. Census per language: docs, scrubbed
    * token mass, and an order-independent content fingerprint
    * (pmod of the decimal-exact sum of per-doc xxhash64(doc_id:text) —
    * any lost, duplicated, or altered row moves it).
    *
    * Scale shape: scrub is q329's exchanges; the gate is row-local; the
    * write shuffles once on the partition column; the census reads the
    * table back with partial aggregation. Engine-side hashing → golden.
    */
  def curatedMaterialize(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    val tbl = "graft_curated"
    val scrub = DedupOps.scrubbedDocs(
        docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val gate = graft.streaming.StreamingCurationGate.gateFrame(
      scrub.select(col("doc_id"), col("lang"), col("text")))
    val curated = scrub
      .join(gate.where(!col("gated")).select(col("doc_id"), col("n_toks")),
        Seq("doc_id"))
    dropTable(spark, tbl)
    curated.select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("lang").format("parquet").saveAsTable(tbl)
    curatedCensusOf(spark.table(tbl))
  }

  /** q348's readback census — per-language row/token counts plus the
    * order-independent decimal-exact content fingerprint (any lost,
    * duplicated, or altered (doc_id, lang, text, n_toks) row moves
    * it). THE single definition: q348 grades through it, and q350/
    * q355/q357's rebuild-identity comparisons reuse it verbatim — the
    * shared-golden doctrine requires one expression, not three copies.
    */
  private[ops] def curatedCensusOf(df: DataFrame): DataFrame =
    df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        expr("""CAST(pmod(sum(CAST(xxhash64(concat(CAST(doc_id AS STRING),
          | ':', text)) AS DECIMAL(38,0))), 1000000000000L) AS BIGINT)"""
          .stripMargin).as("fingerprint"))
      .orderBy("lang")

  val defs: Seq[QueryDef] = Seq(
    // Curated-corpus materialization: scrub -> gate -> K1 write ->
    // readback census. The tiers composed into the dataset a training
    // run actually consumes. Engine-side hashing -> literal golden.
    QueryDef("q348_curated_corpus",
      graft.util.Tables.literalOracle("q348_curated_corpus"),
      (spark, dir) => curatedMaterialize(spark,
        t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))),

    QueryDef("q200_pipeline_funnel", Some(pipelineFunnelSql),
      (spark, dir) => pipelineFunnel(t(spark, dir, "documents"))),

    QueryDef("q198_budget_mix", Some(budgetMixSql),
      (spark, dir) => budgetMix(t(spark, dir, "documents"))),

    QueryDef("q191_filter_reasons", Some(filterReasonsSql),
      (spark, dir) => filterReasons(t(spark, dir, "documents"))),

    QueryDef("q192_filter_ablation", Some(filterAblationSql),
      (spark, dir) => filterAblation(t(spark, dir, "documents"))),

    QueryDef("q91_doc_chunk", Some(chunkSql),
      (spark, dir) => chunkDocs(t(spark, dir, "documents"))),

    QueryDef("q65_repetition_stats", Some(repetitionSql),
      (spark, dir) => repetitionStats(t(spark, dir, "documents"))),

    QueryDef("q66_contamination", Some(contaminationSql),
      (spark, dir) => contamination(t(spark, dir, "documents"))),

    QueryDef("q67_mixture_sample", Some(mixtureSql),
      (spark, dir) => mixtureSample(t(spark, dir, "documents"))),

    QueryDef("q74_length_histogram", Some(lengthHistogramSql),
      (spark, dir) => lengthHistogram(t(spark, dir, "documents"))),

    QueryDef("q76_text_normalize", Some(normalizeSql),
      (spark, dir) => normalize(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(messyDocs(spark)))),

    QueryDef("q246_homoglyph_dedup", Some(homoglyphSql),
      (spark, dir) => homoglyphDedup(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(homoglyphDocs(spark)))),

    QueryDef("q77_length_outliers", Some(lengthOutliersSql),
      (spark, dir) => lengthOutliers(t(spark, dir, "documents"))),

    QueryDef("q78_fuzzy_pairs", Some(fuzzyPairsSql),
      (spark, dir) => fuzzyPairs(t(spark, dir, "part"))),

    QueryDef("q108_pii_redact", Some(piiRedactSql),
      (spark, dir) => piiRedact(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(piiDocs(spark)))),

    QueryDef("q109_domain_stats", Some(domainStatsSql),
      (spark, dir) => domainStats(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(urlDocs(spark)))),

    QueryDef("q113_canonical_rep", Some(canonicalizeSql),
      (spark, dir) => canonicalize(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(variantDocs(spark)))),

    QueryDef("q114_temperature_mix", Some(temperatureMixtureSql),
      (spark, dir) => temperatureMixture(t(spark, dir, "documents"))),

    QueryDef("q311_unimax_budget", Some(unimaxBudgetSql),
      (spark, dir) => unimaxBudget(t(spark, dir, "documents"))),

    // Quality-aware near-dup survivorship: keep the BEST member of each
    // MinHash cluster, not the smallest id. Engine-side clusters ->
    // literal golden; CurationSpec plants a straddling pair where the
    // lower-id member is out of the length band and must LOSE.
    QueryDef("q290_quality_survivors",
      literalOracle("q290_quality_survivors"),
      (spark, dir) => qualitySurvivors(t(spark, dir, "documents"))),

    QueryDef("q294_cdc_chunks", Some(cdcChunkSql),
      (spark, dir) => cdcChunkHistogram(t(spark, dir, "documents"))),

    QueryDef("q125_equidepth_bins", Some(equidepthSql),
      (spark, dir) => equidepthBins(t(spark, dir, "orders"))))

  /** Equi-depth (quantile) binning of order totals — the feature
    * bucketization step ML preprocessing runs before hashing/embedding a
    * numeric column. Exact interpolated decile boundaries (q49 pins
    * Spark percentile ≡ DuckDB quantile_cont bitwise on this 2dp-grid
    * data), then every row is assigned bin = 1 + #(boundaries < value)
    * with a STRICT comparison on identical doubles — no ntile, so no
    * global sort: the boundary array is one broadcast row and the
    * assignment is a row-local lambda filter inside codegen. One
    * partial-agged shuffle on the 10-value bin key. At 100 TB the only
    * non-scan cost is the percentile aggregate itself (one pass +
    * per-group sort inside the agg); swap in approx_percentile when a
    * sketch boundary is acceptable.
    */
  def equidepthBins(orders: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val fr = (1 until bins).map(_.toDouble / bins)
    val bounds = orders.agg(
      expr(s"percentile(o_totalprice, array(${fr.mkString(", ")}))").as("bl"))
    orders.crossJoin(broadcast(bounds))
      .select(col("o_totalprice"),
        (size(expr("filter(bl, b -> o_totalprice > b)")) + 1)
          .cast("int").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("p_min"),
        max(col("o_totalprice")).as("p_max"),
        moneySum(col("o_totalprice")).as("rev"))
      .orderBy("bin")
  }

  /** q290 body: quality-aware survivorship over NEAR-dup clusters — the
    * curation upgrade over min-id canonicals (q24/q113): when near-dups
    * differ (truncations, junk-padded variants), "keep the smallest id"
    * keeps an arbitrary copy; production pipelines keep the BEST one.
    * Clusters come from the transitive MinHash tier
    * ([[DedupOps.minhashClusters]]); the survivor is the member
    * maximizing (in-length-band, token count, then stable min doc_id) —
    * q30's length-band rule as the quality signal, so a 122-token
    * out-of-band copy loses to its 118-token in-band twin even with the
    * smaller id. Output is the keep decision per non-singleton cluster,
    * not a corpus rewrite (the q113 shape).
    *
    * Scale shape: the cluster pass is q51's (bounded star edges +
    * active-set propagation); the pick adds one cluster-keyed window
    * whose frames are near-dup-cluster-sized. Engine-side MinHash →
    * literal golden oracle; semantics pinned by CurationSpec's planted
    * straddling pair.
    */
  def qualitySurvivors(docs: DataFrame): DataFrame = {
    val clusters = DedupOps.minhashClusters(docs)
    val quality = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)")
          .as("n_tokens"))
      .withColumn("len_ok",
        when(col("n_tokens").between(30, 120), 1).otherwise(0))
    val byC = Window.partitionBy("cluster_id")
    val pick = byC.orderBy(col("len_ok").desc, col("n_tokens").desc,
      col("doc_id").asc)
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_members", count(lit(1)).over(byC))
      .where(col("rn") === 1 && col("n_members") >= 2)
      .select(col("cluster_id"), col("doc_id").as("kept_id"),
        col("n_members").cast("long").as("n_members"),
        col("n_tokens").cast("long").as("kept_tokens"),
        col("len_ok").cast("int").as("kept_len_ok"))
      .orderBy("cluster_id")
  }
}
