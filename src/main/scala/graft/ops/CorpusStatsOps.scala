package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.util.Tables
import graft.util.Tables._

/** Corpus-statistics operators a training-data pipeline runs between
  * ingest and sampling: distribution-drift detection between two corpus
  * slices, and inverted-index (posting-list) construction for term lookup
  * / contamination tracing (SURVEY §7.4 extension surface over the
  * reference's grouped-count analytics family, aggregazioni 02:61-96).
  */
object CorpusStatsOps {

  /** Term-distribution drift between two halves of the corpus (split by
    * doc_id parity — deterministic, engine-independent). The divergence
    * score per term is the CROSS-MULTIPLIED rate difference
    * |c_a·n_b − c_b·n_a| (equivalent in ordering to |c_a/n_a − c_b/n_b|
    * scaled by n_a·n_b): with both products computed in DECIMAL(38,0)
    * the score is EXACT integer arithmetic in both engines — no float
    * division, no rounding step, bit-identical grading. Scale shape:
    * token explode collapses map-side to (term, side) partials before one
    * vocabulary-bounded shuffle; the two corpus totals ride in as a
    * broadcast one-row frame; top-k is a TakeOrderedAndProject with a
    * total (drift DESC, term) order.
    */
  def termDrift(docs: DataFrame, k: Int = 50): DataFrame = {
    val tok = docs.where(col("text").isNotNull)
      .select((col("doc_id") % 2 === 0).as("side_a"),
        explode(split(col("text"), " ")).as("term"))
    val counts = tok.groupBy("term")
      .agg(sum(when(col("side_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("side_a"), 1L).otherwise(0L)).as("c_b"))
    val totals = counts.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val dec = DecimalType(19, 0)
    counts.crossJoin(broadcast(totals))
      .withColumn("drift",
        abs(col("c_a").cast(dec) * col("n_b").cast(dec) -
          col("c_b").cast(dec) * col("n_a").cast(dec)).cast("long"))
      .select(col("term"), col("c_a"), col("c_b"), col("drift"))
      .orderBy(col("drift").desc, col("term").asc)
      .limit(k)
  }

  private def termDriftSql =
    """WITH tok AS (SELECT (doc_id % 2 = 0) AS side_a, tt.term
      |            FROM documents, UNNEST(string_split(text, ' ')) AS tt(term)
      |            WHERE text IS NOT NULL),
      |counts AS (SELECT term,
      |    CAST(SUM(CASE WHEN side_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |    CAST(SUM(CASE WHEN side_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
      |  FROM tok GROUP BY term),
      |totals AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM counts)
      |SELECT term, c_a, c_b,
      |  CAST(ABS(CAST(c_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)) -
      |           CAST(c_b AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0)))
      |    AS BIGINT) AS drift
      |FROM counts CROSS JOIN totals
      |ORDER BY drift DESC, term LIMIT 50""".stripMargin

  /** Inverted index: per term, document frequency plus the first
    * `maxPostings` doc ids (sorted) as a comma-joined string — the lookup
    * structure behind contamination tracing and per-term sampling.
    * Scale shape: the (term, doc) relation is ranked with a
    * row_number <= maxPostings filter that Spark's WindowGroupLimit
    * rewrite pushes into a per-partition top-k (bounded state per term,
    * never a full per-term sort at the reducer — the q115 pattern), so
    * the collect_list only ever aggregates <= maxPostings rows per term;
    * df comes from a separate vocabulary-bounded count aggregate sharing
    * the same shuffle key. Postings are emitted as a STRING because the
    * driver hash-compares scalar columns; both engines join the same
    * sorted ids with the same separator.
    */
  /** The (term, df, postings-ARRAY) core of the inverted index — shared
    * by the one-shot build (q133, which stringifies) and the incremental
    * delta merge (q251, which needs the arrays to merge).
    */
  private def invertedIndexParts(docs: DataFrame, maxPostings: Int): DataFrame = {
    require(maxPostings > 0, s"maxPostings must be positive, got $maxPostings")
    val td = docs.where(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
    val dfreq = td.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("term").orderBy(col("doc_id").asc)
    val postings = td.withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxPostings)
      .groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    dfreq.join(postings, Seq("term"))
  }

  def invertedIndex(docs: DataFrame, maxPostings: Int = 10): DataFrame =
    invertedIndexParts(docs, maxPostings)
      .select(col("term"), col("df"),
        concat_ws(",", col("postings")).as("postings"))
      .orderBy("term")

  /** q251 body: INCREMENTAL inverted-index maintenance — the index
    * counterpart of q233's centroid-assignment delta pass. The corpus
    * splits into a base (90%) and a delta batch (10%, doc_id % 10 = 0);
    * each side builds its capped index independently and the two merge
    * per term: df adds, and the merged posting list is the first
    * `maxPostings` of the union — EXACT, because any of the k smallest
    * ids overall is among its own side's k smallest, so truncated
    * per-side lists lose nothing (the min-k merge lemma; the spec pins
    * incremental == full rebuild). Graded by q133's full-rebuild oracle
    * verbatim: the nightly "index the delta, merge into the serving
    * index" pass must be indistinguishable from a rebuild.
    *
    * Scale shape: the delta side's cost is delta-sized; the merge is a
    * term-keyed join of two vocabulary-bounded relations (never
    * corpus-sized) — at 100 TB the base index is the serving artifact
    * already on disk and only the delta's terms shuffle.
    */
  def indexDeltaMerge(docs: DataFrame, maxPostings: Int = 10): DataFrame = {
    val base = invertedIndexParts(
      docs.where(col("doc_id") % 10 =!= 0), maxPostings)
      .select(col("term"), col("df").as("df_b"), col("postings").as("p_b"))
    val delta = invertedIndexParts(
      docs.where(col("doc_id") % 10 === 0), maxPostings)
      .select(col("term"), col("df").as("df_d"), col("postings").as("p_d"))
    base.join(delta, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df_b"), lit(0L)) + coalesce(col("df_d"), lit(0L)))
          .as("df"),
        concat_ws(",", slice(sort_array(concat(
          coalesce(col("p_b"), expr("CAST(array() AS ARRAY<BIGINT>)")),
          coalesce(col("p_d"), expr("CAST(array() AS ARRAY<BIGINT>)")))), 1, maxPostings))
          .as("postings"))
      .orderBy("term")
  }

  private def invertedIndexSql =
    """WITH td AS (SELECT DISTINCT doc_id, tt.term
      |            FROM documents, UNNEST(string_split(text, ' ')) AS tt(term)
      |            WHERE text IS NOT NULL),
      |r AS (SELECT term, doc_id,
      |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |      FROM td),
      |p AS (SELECT term, array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      |      FROM r WHERE rn <= 10 GROUP BY term),
      |d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM td GROUP BY term)
      |SELECT d.term, d.df, p.postings
      |FROM d JOIN p USING (term) ORDER BY d.term""".stripMargin

  /** Per-source 3-gram diversity (type-token ratio over word shingles):
    * sources whose docs repeat the same phrasing — template farms, boiler-
    * plate mirrors — score low and get down-weighted at mixture time.
    * Counts are exact integers; the ratio is one int/int double division.
    * Scale shape: occurrences collapse map-side to (source, shingle)
    * partials before the one corpus-linear shuffle; distinct-vs-total both
    * come off that relation, and the output is source-bounded.
    */
  def ngramDiversity(docs: DataFrame): DataFrame = {
    val sh = docs.where(col("text").isNotNull)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("source"),
        explode(expr("transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("s"))
    val perShingle = sh.groupBy("source", "s").agg(count(lit(1)).as("occ"))
    perShingle.groupBy("source")
      .agg(sum(col("occ")).as("n_shingles"),
        count(lit(1)).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_shingles").cast("double"))
      .orderBy("source")
  }

  private def ngramDiversitySql =
    """WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents
      |      WHERE text IS NOT NULL
      |        AND length(text) - length(replace(text, ' ', '')) + 1 >= 3),
      |sh AS (SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM w, UNNEST(range(1, len(w) - 1)) t(i)),
      |per AS (SELECT source, s, COUNT(*) AS occ FROM sh GROUP BY source, s)
      |SELECT source, CAST(SUM(occ) AS BIGINT) AS n_shingles,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE) AS diversity
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  /** Cross-source exact-duplicate overlap: for every source pair, how many
    * distinct contents both carry — the mirror-detection / provenance
    * dedup matrix that decides which source to keep when corpora overlap.
    * Scale shape: contents collapse to (hash, source) DISTINCT first; only
    * hashes carried by >= 2 sources survive to the self-join (the rare
    * band — unique content, however vast, never fans out), and per-hash
    * fan-out is C(k, 2) with k <= |sources|. Output is source-pair
    * bounded. The corpus has no natural cross-source dups, so planted
    * mirrored docs (same literals in the oracle) keep the matrix
    * non-vacuous: two texts shared by src0/src3, one by src1/src2/src4.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val hs = docs.where(col("text").isNotNull)
      .select(md5(col("text")).as("h"), col("source"))
      .distinct()
    val shared = hs.groupBy("h").agg(count(lit(1)).as("k"))
      .where(col("k") >= 2).select("h")
    // NOT broadcast: dup-heavy web corpora can have a large shared-hash
    // relation; the join is keyed on the hash (co-partitioned with hs)
    val sharedHs = hs.join(shared, "h")
    sharedHs.as("a").join(sharedHs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  private def mirroredDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val textA = "mirrored boilerplate notice shared across two corpora"
    val textB = "second mirrored passage carried by the same two corpora"
    val textC = "three way syndicated content appearing in three corpora"
    Seq(
      (2000000000081L, Some(textA), "src0"),
      (2000000000082L, Some(textA), "src3"),
      (2000000000083L, Some(textB), "src0"),
      (2000000000084L, Some(textB), "src3"),
      (2000000000085L, Some(textC), "src1"),
      (2000000000086L, Some(textC), "src2"),
      (2000000000087L, Some(textC), "src4")
    ).toDF("doc_id", "text", "source")
  }

  private def sourceOverlapSql =
    """WITH all_docs(text, source) AS (
      |  SELECT text, source FROM documents
      |  UNION ALL
      |  VALUES
      |  ('mirrored boilerplate notice shared across two corpora', 'src0'),
      |  ('mirrored boilerplate notice shared across two corpora', 'src3'),
      |  ('second mirrored passage carried by the same two corpora', 'src0'),
      |  ('second mirrored passage carried by the same two corpora', 'src3'),
      |  ('three way syndicated content appearing in three corpora', 'src1'),
      |  ('three way syndicated content appearing in three corpora', 'src2'),
      |  ('three way syndicated content appearing in three corpora', 'src4')),
      |hs AS (SELECT DISTINCT md5(text) AS h, source FROM all_docs
      |       WHERE text IS NOT NULL),
      |shared AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) >= 2)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM (SELECT * FROM hs JOIN shared USING (h)) a
      |JOIN (SELECT * FROM hs JOIN shared USING (h)) b
      |  ON a.h = b.h AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY source_a, source_b""".stripMargin

  /** Corpus n-gram novelty by source: the share of each source's 8-token
    * shingles that first appear (by min doc_id over the whole corpus) in
    * that source's own documents — the "how much does this slice add"
    * statistic a curation pipeline reads before up/down-weighting a
    * source (the dedup tier asks "is this a copy"; this asks the
    * corpus-level inverse, "who contributed the original").
    *
    * Scale shape: shingling is map-side; ONE corpus-scale shuffle on the
    * shingle string to compute min(doc_id) (the unavoidable global
    * step — at 100 TB the key would be xxhash64(shingle) to shrink
    * shuffle payloads, accepting ~2⁻⁶⁴ collision odds; grading keeps the
    * exact string for bit-parity with the oracle), then a broadcast-sized
    * join back of first-owner rows and a source-bounded roll-up of exact
    * integer counts with ONE final divide.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    // pre-filter short docs: Spark's sequence(1, 0) DESCENDS (it would
    // emit i=0 and slice() throws on start 0), DuckDB's is empty — the
    // length guard keeps both engines off that edge entirely
    val shingles = docs.where(col("text").isNotNull &&
        size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), col("source"), explode(expr(
        s"""transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
           |  i -> array_join(slice(split(text, ' '), i, $n), ' '))"""
          .stripMargin)).as("sh"))
    // min-over-window instead of aggregate+self-join: the join form
    // shuffles the ~50-char shingle strings TWICE (once to build
    // first-owner, once to probe); the window form shuffles them once
    // and scans tiny per-shingle frames (measured 2.9s -> window at
    // sf0.1; the oracle keeps the join formulation — same values)
    shingles
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("sh"))))
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("novel_shingles"))
      .withColumn("novelty_rate",
        col("novel_shingles").cast("double") / col("n_shingles").cast("double"))
      .orderBy("source")
  }

  private val ngramNoveltySql: String =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(
      |      generate_series(1, length(string_split(text, ' ')) - 7),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')))
      |      AS sh
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(string_split(text, ' ')) >= 8),
      |fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
      |SELECT source,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
      |    AS novel_shingles,
      |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS novelty_rate
      |FROM sh JOIN fo USING (sh)
      |GROUP BY source ORDER BY source""".stripMargin

  /** q292 body: train→eval n-gram leakage under the DOC-keyed split —
    * the generalization-gap audit (GPT-3 appendix-C dedup class): what
    * share of each eval split's 8-grams already appears in ANY train
    * doc. Deliberately measured under the doc-id hash split (q64's
    * shape, via SampleOps.splitOf), the split whose contamination this
    * audit exists to expose — q119's cluster-aware split is the fix,
    * and this query puts a NUMBER on what the naive split leaks.
    *
    * Scale shape: q184's shingle machinery — map-side shingling, one
    * shingle-keyed shuffle (train grams distinct + eval probe on the
    * same key; at 100 TB the key becomes xxhash64(sh), grading keeps
    * the string for oracle bit-parity), split-bounded rollup with exact
    * basis points.
    */
  def splitNgramLeakage(docs: DataFrame, n: Int = 8): DataFrame = {
    val shingles = docs.where(col("text").isNotNull &&
        size(split(col("text"), " ")) >= n)
      .withColumn("split",
        SampleOps.splitOf(col("doc_id").cast("string")))
      .select(col("doc_id"), col("split"), explode(expr(
        s"""transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
           |  i -> array_join(slice(split(text, ' '), i, $n), ' '))"""
          .stripMargin)).as("sh"))
    val trainGrams = shingles.where(col("split") === "train")
      .select(col("sh")).distinct().withColumn("in_train", lit(1))
    shingles.where(col("split") =!= "train")
      .join(trainGrams, Seq("sh"), "left")
      .groupBy("split")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_grams"),
        sum(when(col("in_train") === 1, 1L).otherwise(0L))
          .as("leaked_grams"))
      .withColumn("leak_bp",
        expr("leaked_grams * 10000 div n_grams"))
      .orderBy("split")
  }

  private val splitLeakageSql: String =
    """WITH base AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
      |           THEN 'train'
      |         WHEN substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e7'
      |           THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(string_split(text, ' ')) >= 8),
      |sh AS (
      |  SELECT doc_id, split,
      |    unnest(list_transform(
      |      generate_series(1, length(string_split(text, ' ')) - 7),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')))
      |      AS sh
      |  FROM base),
      |tg AS (SELECT DISTINCT sh FROM sh WHERE split = 'train')
      |SELECT s.split,
      |  CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN tg.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS leaked_grams,
      |  CAST(SUM(CASE WHEN tg.sh IS NOT NULL THEN 1 ELSE 0 END) * 10000
      |    // COUNT(*) AS BIGINT) AS leak_bp
      |FROM sh s LEFT JOIN tg ON tg.sh = s.sh
      |WHERE s.split <> 'train'
      |GROUP BY s.split ORDER BY s.split""".stripMargin

  /** Phrase search through a POSITIONAL posting intersection — the
    * primitive q133's doc-level inverted index lacks: find exact
    * multi-word phrases by joining the first word's postings against the
    * second word's at position+1. Phase 1 picks the query phrases (top-3
    * corpus bigrams — map-side adjacent-pair extraction, one count
    * shuffle, global top-k = TakeOrderedAndProject, never a full sort);
    * phase 2 is the graded primitive: the positional index is probed
    * ONLY for the phrase terms (broadcast semi-join prune — at 100 TB
    * the index is term-bucketed and only the queried terms' postings
    * ever move), then postings intersect on (doc_id, pos+1). The oracle
    * recomputes matches by direct bigram extraction — equality proves
    * the index path finds exactly the adjacent occurrences.
    */
  def phraseMatch(docs: DataFrame, topPhrases: Int = 3): DataFrame = {
    require(topPhrases > 0, s"topPhrases must be positive, got $topPhrases")
    val texts = docs.where(col("text").isNotNull)
    // phase 1: choose the phrases (bigram counts never touch a join)
    val phrases = texts
      .where(size(split(col("text"), " ")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(split(text, ' ')) - 1),
          |  i -> concat(element_at(split(text, ' '), i), ' ',
          |              element_at(split(text, ' '), i + 1)))""".stripMargin))
        .as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("phrase").asc)
      .limit(topPhrases)
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"))
    // phase 2: positional postings, probed only for the phrase terms
    val toks = texts.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val p1 = toks.join(broadcast(phrases),
        toks("term") === phrases("w1"))
      .select(col("phrase"), col("w2"), col("doc_id"), col("pos"))
    // prune the second posting side to the phrase terms BEFORE the
    // positional join: without this the full token stream shuffles on
    // (doc_id, pos) just to be discarded by the term2 = w2 predicate
    val p2 = toks.join(broadcast(phrases.select(col("w2").as("term"))),
        Seq("term"), "left_semi")
      .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
        col("term").as("term2"))
    p1.join(p2,
        col("doc_id") === col("doc_id2") && col("pos2") === col("pos") + 1 &&
          col("term2") === col("w2"))
      .groupBy("phrase")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("phrase")
  }

  /** q274 body: PROXIMITY search (the IR NEAR/k operator) — the same
    * data-driven top-3 term pairs as q190's exact-adjacency phrase
    * match, but counting co-occurrences within `slop` positions in ANY
    * order: the query "these words near each other" that adjacency
    * cannot answer and bag-of-words answers too loosely. Same plan
    * doctrine as q190: BOTH posting sides are pruned to the queried
    * terms by broadcast before the positional join, so the join input is
    * |postings(w1)| + |postings(w2)|, never the token stream; the slop
    * predicate rides the join condition. Completes the retrieval tier's
    * query algebra: adjacency (q190), proximity (here), ranked (q245).
    */
  def proximityMatch(docs: DataFrame, topPhrases: Int = 3,
      slop: Int = 3): DataFrame = {
    require(topPhrases > 0 && slop >= 1,
      s"positive topPhrases/slop required, got $topPhrases/$slop")
    val texts = docs.where(col("text").isNotNull)
    val phrases = texts
      .where(size(split(col("text"), " ")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(split(text, ' ')) - 1),
          |  i -> concat(element_at(split(text, ' '), i), ' ',
          |              element_at(split(text, ' '), i + 1)))""".stripMargin))
        .as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("phrase").asc)
      .limit(topPhrases)
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"))
    val toks = texts.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val p1 = toks.join(broadcast(phrases), toks("term") === phrases("w1"))
      .select(col("phrase"), col("w2"), col("doc_id"), col("pos"))
    val p2 = toks.join(broadcast(phrases.select(col("w2").as("term"))),
        Seq("term"), "left_semi")
      .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
        col("term").as("term2"))
    p1.join(p2,
        col("doc_id") === col("doc_id2") && col("term2") === col("w2") &&
          abs(col("pos2") - col("pos")).between(1, slop))
      .groupBy("phrase")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_pairs"))
      .orderBy("phrase")
  }

  private def proximityMatchSql(slop: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i + 1])) AS phrase
      |       FROM w WHERE len(w) >= 2),
      |top AS (SELECT phrase, string_split(phrase, ' ')[1] AS w1,
      |          string_split(phrase, ' ')[2] AS w2
      |        FROM (SELECT phrase, COUNT(*) AS n FROM bg GROUP BY phrase)
      |        ORDER BY n DESC, phrase ASC LIMIT 3),
      |toks AS (SELECT doc_id,
      |           unnest(list_transform(generate_series(1, len(w)),
      |             i -> struct_pack(pos := i - 1, term := w[i]))) AS tk
      |         FROM w),
      |tok2 AS (SELECT doc_id, tk.pos AS pos, tk.term AS term FROM toks)
      |SELECT p.phrase, CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM top p
      |JOIN tok2 a ON a.term = p.w1
      |JOIN tok2 b ON b.doc_id = a.doc_id AND b.term = p.w2
      |  AND abs(b.pos - a.pos) BETWEEN 1 AND $slop
      |GROUP BY p.phrase ORDER BY p.phrase""".stripMargin

  private val phraseMatchSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i + 1])) AS phrase
      |       FROM w WHERE len(w) >= 2),
      |top AS (SELECT phrase FROM (SELECT phrase, COUNT(*) AS n FROM bg
      |          GROUP BY phrase)
      |        ORDER BY n DESC, phrase ASC LIMIT 3)
      |SELECT b.phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  MIN(doc_id) AS first_doc
      |FROM bg b JOIN top USING (phrase)
      |GROUP BY b.phrase ORDER BY phrase""".stripMargin

  /** Source-level TF-cosine similarity matrix (q201): each source's
    * term-frequency vector against every other's — the corpus-curation
    * view of "which slices are near-duplicates of each other" (doc-level
    * dedup asks about documents; this drives source-level mixing and
    * drop decisions). Dot products are EXACT integer sums of tf·tf over
    * the shared vocabulary; the two norms are exact integer Σtf² — the
    * only doubles are the final sqrt/divide expression both engines
    * evaluate identically over the same BIGINTs.
    *
    * Scale shape: one (source, term) aggregation (map-side combined),
    * then a TERM-keyed self-join whose per-term fan-out is bounded by
    * the source catalog (≤ |sources|² pairs per term, tens of sources)
    * — the classic "similarity via inverted index" plan where the
    * vocabulary, not the corpus, is the join key. No |sources|²-scan of
    * raw text ever happens.
    */
  /** q325 body: LEAVE-ONE-SOURCE-OUT quality ablation — "which source
    * drags corpus quality" answered WITHOUT one re-run per source: the
    * corpus metric is the mean of a per-doc integer quality gate
    * (q30's signals composed: 500 points for token count in [30, 120],
    * 500 for carrying the stopword), and removing source s changes the
    * mean to (ΣQ − Q_s)/(N − n_s) — pure algebra over per-source
    * PARTIAL SUMS, so all |sources| ablations come from ONE corpus
    * pass. delta_qp > 0 reads "dropping this source raises corpus
    * quality" — the mixture-surgery signal a data team acts on. Exact
    * integers throughout (the metric is already integer points; the
    * means are integral divisions).
    *
    * Scale shape: one per-source shuffle with map-side combine, one
    * broadcast totals row; the ablation arithmetic runs on the
    * |sources|-row frame. The same trick generalizes to any
    * sum-decomposable metric — this is the census form of q192's
    * filter-ablation doctrine applied across the source dimension.
    */
  def sourceAblation(docs: DataFrame): DataFrame = {
    val perSrc = docs.where(col("text").isNotNull)
      .select(col("source"),
        expr("length(text) - length(replace(text, ' ', '')) + 1").as("nt"),
        expr("""length(' ' || text || ' ')
          | - length(replace(' ' || text || ' ', ' the ', ''))"""
          .stripMargin).as("sh"))
      .select(col("source"),
        (when(col("nt").between(30, 120), 500L).otherwise(0L) +
          when(col("sh") >= 5, 500L).otherwise(0L)).as("qp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("qp")).as("qps"))
    val tot = perSrc.agg(sum(col("n_docs")).as("tn"), sum(col("qps")).as("tq"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("qps div n_docs").as("mean_qp"),
        expr("""CASE WHEN tn = n_docs THEN CAST(NULL AS BIGINT)
          |ELSE (tq - qps) div (tn - n_docs) END""".stripMargin)
          .as("loo_mean_qp"),
        expr("""CASE WHEN tn = n_docs THEN CAST(NULL AS BIGINT)
          |ELSE (tq - qps) div (tn - n_docs) - tq div tn END"""
          .stripMargin).as("delta_qp"))
      .orderBy("source")
  }

  private val sourceAblationSql: String =
    """WITH q AS (
      |  SELECT source,
      |    CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
      |        BETWEEN 30 AND 120 THEN 500 ELSE 0 END
      |    + CASE WHEN length(' ' || text || ' ')
      |        - length(replace(' ' || text || ' ', ' the ', '')) >= 5
      |      THEN 500 ELSE 0 END AS qp
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(qp) AS BIGINT) AS qps
      |  FROM q GROUP BY source),
      |t AS (SELECT SUM(n_docs) AS tn, SUM(qps) AS tq FROM s)
      |SELECT source, n_docs,
      |  CAST(qps // n_docs AS BIGINT) AS mean_qp,
      |  CAST(CASE WHEN tn = n_docs THEN NULL
      |    ELSE (tq - qps) // (tn - n_docs) END AS BIGINT) AS loo_mean_qp,
      |  CAST(CASE WHEN tn = n_docs THEN NULL
      |    ELSE (tq - qps) // (tn - n_docs) - tq // tn END AS BIGINT)
      |    AS delta_qp
      |FROM s, t ORDER BY source""".stripMargin

  /** q321 body: pairwise TOTAL-VARIATION distance between per-source
    * token distributions — the drift metric q201's TF-cosine is not:
    * cosine compares unnormalized direction (a source twice as long
    * with the same mix scores 1.0), while TVD = ½·Σ|p_s − p_t| is the
    * bounded [0, 1] metric on the NORMALIZED distributions with the
    * operational guarantee drift monitors quote (no event's probability
    * differs by more than the TVD). Exact integers end to end: the
    * per-token term |c_s·n_t − c_t·n_s| cross-multiplies the two
    * denominators away, and the graded permille is one integral
    * division 500·Σ div (n_s·n_t) — DECIMAL(38,0) lanes so the
    * cross-products stay exact at any corpus size (n_s·n_t ~ 10²⁸ at
    * 100 TB; HUGEINT on the oracle side).
    *
    * Scale shape: one vocabulary-bounded (source, tok) shuffle with
    * map-side combine; tokens then fold to ONE row each (a
    * source→count map — sources are a bounded dimension) and cross the
    * broadcast |sources|²/2 pair relation, so the pair fan-out is
    * vocab × pairs, never corpus-sized. Tokens absent from one source
    * contribute |c·n| through the coalesce — the one-sided mass an
    * inner join on tok would silently drop.
    */
  def sourceTvd(docs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val toks = docs.where(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val totals = toks.groupBy("source").agg(count(lit(1)).as("n"))
    val tokMap = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("tok")
      .agg(map_from_entries(collect_list(struct(col("source"), col("c"))))
        .as("m"))
    val pairs = totals.as("a").join(totals.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
    tokMap.crossJoin(broadcast(pairs))
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        abs(coalesce(expr("m[src_a]"), lit(0L)).cast(dec) * col("nb")
          - coalesce(expr("m[src_b]"), lit(0L)).cast(dec) * col("na"))
          .as("d"))
      .groupBy("src_a", "src_b", "na", "nb")
      .agg(sum(col("d")).as("sd"))
      .select(col("src_a"), col("src_b"),
        col("na").as("tokens_a"), col("nb").as("tokens_b"),
        expr(s"CAST((500 * sd) div (CAST(na AS $dec) * nb) AS BIGINT)")
          .as("tvd_permille"))
      .orderBy("src_a", "src_b")
  }

  private val sourceTvdSql: String =
    """WITH t2 AS (SELECT source, term FROM documents,
      |    unnest(string_split(text, ' ')) AS t(term)
      |  WHERE text IS NOT NULL AND term <> ''),
      |c AS (SELECT source, term, CAST(COUNT(*) AS HUGEINT) AS c
      |  FROM t2 GROUP BY 1, 2),
      |n AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n
      |  FROM t2 GROUP BY 1),
      |p AS (SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
      |  FROM n a, n b WHERE a.source < b.source),
      |v AS (SELECT DISTINCT term FROM t2),
      |g AS (SELECT p.sa, p.sb, p.na, p.nb,
      |    ABS(COALESCE(ca.c, 0) * p.nb - COALESCE(cb.c, 0) * p.na) AS d
      |  FROM p CROSS JOIN v
      |  LEFT JOIN c ca ON ca.term = v.term AND ca.source = p.sa
      |  LEFT JOIN c cb ON cb.term = v.term AND cb.source = p.sb)
      |SELECT sa AS src_a, sb AS src_b,
      |  CAST(na AS BIGINT) AS tokens_a, CAST(nb AS BIGINT) AS tokens_b,
      |  CAST((500 * SUM(d)) // (na * nb) AS BIGINT) AS tvd_permille
      |FROM g GROUP BY 1, 2, na, nb ORDER BY src_a, src_b""".stripMargin

  def sourceSimilarity(docs: DataFrame): DataFrame = {
    val tf = docs.where(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy("source")
      .agg(sum(col("tf") * col("tf")).as("norm_sq"))
    val dots = tf.select(col("source").as("src_a"), col("term"),
        col("tf").as("tf_a"))
      .join(tf.select(col("source").as("src_b"), col("term"),
        col("tf").as("tf_b")), Seq("term"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    dots
      .join(broadcast(norms.select(col("source").as("src_a"),
        col("norm_sq").as("na"))), Seq("src_a"))
      .join(broadcast(norms.select(col("source").as("src_b"),
        col("norm_sq").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
      .orderBy("src_a", "src_b")
  }

  private val sourceSimilaritySql: String =
    """WITH tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
      |  WHERE text IS NOT NULL GROUP BY source, term),
      |norms AS (SELECT source, CAST(SUM(tf * tf) AS BIGINT) AS norm_sq
      |  FROM tf GROUP BY source),
      |dots AS (SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM tf a JOIN tf b ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, dot,
      |  CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE)))
      |    AS cosine
      |FROM dots
      |JOIN norms na ON na.source = src_a
      |JOIN norms nb ON nb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** The graded BM25 query set: a rare discriminating term paired with a
    * common one, a three-term conjunction, and a two-term topical query —
    * mirrored verbatim in the oracle's VALUES list.
    */
  val Bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "dup", "q1" -> "hash",
    "q2" -> "join", "q2" -> "merge", "q2" -> "sort",
    "q3" -> "stream", "q3" -> "window")

  /** q245 body: BM25 ranked retrieval over the corpus — the canonical IR
    * scorer the index tier (q61 TF-IDF, q133 inverted index, q190 phrase
    * search) stops just short of: per-query top-k documents under
    * k1 = 1.2, b = 0.75 length normalization.
    *
    * Exactness doctrine (q61's linear-idf choice + q132's integer
    * cross-multiplication): the Robertson idf ARGUMENT is kept as the
    * exact rational (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1) instead of
    * its log — per-term DOCUMENT ordering is identical (log is monotone)
    * and the score becomes one exact integer expression. With
    * avgdl = L/N multiplied through, the per-term score in micro-units is
    *   (2N−2df+1)·22·tf·L·10⁶ div (2df+1)·(10·tf·L + 3·L + 9·dl·N)
    * — all-BIGINT inputs, DECIMAL(38,0)/HUGEINT intermediates (≤ ~4·10³⁵
    * even at 10¹² docs × 10¹⁴ tokens — documented headroom), floor
    * division, integer micro-unit sums: order-independent under any
    * partitioning and bit-identical across engines. No ln() parity bets.
    *
    * Scale shape: the broadcast query-term list semi-prunes the token
    * stream BEFORE any shuffle (only postings of queried terms move — the
    * q190 doctrine); df and the corpus totals are term-bounded broadcast
    * frames; dl is the one doc-keyed aggregate the scorer joins on its
    * co-keyed shuffle; the per-query top-k is a rank ≤ k predicate Spark
    * rewrites to WindowGroupLimit (the q115 pattern) — bounded state per
    * query, never a global sort of the candidate set.
    */
  /** The shared retrieval relations (one corpus pass): per-(query, doc,
    * term) tf, per-doc length, query-term document frequencies, and the
    * corpus totals — BM25 (q245) and the RRF fusion's second ranker
    * (q287) both score FROM these, so the corpus is tokenized once per
    * retrieval query, not once per ranker.
    */
  private final case class RetrievalRels(tf: DataFrame, dl: DataFrame,
      dfreq: DataFrame, totals: DataFrame)

  private def retrievalRels(docs: DataFrame,
      queries: Seq[(String, String)]): RetrievalRels = {
    require(queries.nonEmpty, "queries must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.toDF("query_id", "term")
    val tok = docs.where(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val totals = tok.agg(count(lit(1)).as("l"),
      countDistinct(col("doc_id")).as("n"))
    val qterms = q.select("term").distinct()
    val dfreq = tok.join(broadcast(qterms), Seq("term"), "left_semi")
      .select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tf = tok.join(broadcast(q), Seq("term"))
      .groupBy("query_id", "doc_id", "term").agg(count(lit(1)).as("tf"))
    RetrievalRels(tf, dl, dfreq, totals)
  }

  def bm25TopK(docs: DataFrame, queries: Seq[(String, String)] = Bm25Queries,
      k: Int = 10): DataFrame =
    bm25TopK(retrievalRels(docs, queries), k)

  /** Shared-relations overload: rrfFusion passes the ONE tokenization
    * both its rankers score from (the refactor's whole point — without
    * this the fusion would scan and aggregate the corpus twice).
    */
  private def bm25TopK(rels: RetrievalRels, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val dec = "decimal(38,0)"
    val RetrievalRels(tf, dl, dfreq, totals) = rels
    val scored = tf
      .join(dl, Seq("doc_id"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("score_u", expr(
        s"""((CAST(2 AS $dec) * n - 2 * df + 1) * 22 * tf * l * 1000000) div
           |  ((CAST(2 AS $dec) * df + 1)
           |    * (CAST(10 AS $dec) * tf * l + CAST(3 AS $dec) * l
           |       + CAST(9 AS $dec) * dl * n))""".stripMargin))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("score_u")).as("score_u"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_u").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("n_hit"), col("score_u"))
      .orderBy("query_id", "rnk")
  }

  // ------------------------------------------------------------------
  // q368/q369/q370: persisted SEARCH-INDEX lifecycle
  // ------------------------------------------------------------------

  /** The BM25 model persisted as its MINIMAL doc-keyed state (the q366
    * doctrine applied to retrieval): the postings relation
    * (term, doc_id, tf) and the doc-length relation (doc_id, dl).
    * Everything else the scorer needs is DERIVED at read time — df is
    * the per-term posting-row count, corpus totals are one aggregate
    * over dl — so maintenance never rewrites a derived view. Distinct
    * docs contribute DISJOINT rows to both relations, which is what
    * makes the lifecycle cheap: append is pure row appends (no
    * rewrite at all), takedown is a doc-keyed anti-join rewrite.
    */
  final case class SearchIndexTables(postings: String, dl: String)

  def searchIndexTables(prefix: String): SearchIndexTables =
    SearchIndexTables(s"${prefix}_postings", s"${prefix}_dl")

  private def idxTokens(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))

  private def idxRelations(docs: DataFrame): (DataFrame, DataFrame) = {
    val tok = idxTokens(docs)
    (tok.groupBy("term", "doc_id").agg(count(lit(1)).as("tf")),
      tok.groupBy("doc_id").agg(count(lit(1)).as("dl")))
  }

  def searchIndexMaterialize(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, prefix: String): SearchIndexTables = {
    val tn = searchIndexTables(prefix)
    val (post, dl) = idxRelations(docs)
    // the tombstone table resets with the index: a leftover pending
    // set from an earlier life of this prefix would silently filter a
    // fresh index's serves (q378's tier)
    Seq(tn.postings, tn.dl, searchTombTable(prefix))
      .foreach(dropTable(spark, _))
    post.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(tn.postings)
    dl.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(tn.dl)
    pinMaxDocId(spark, tn.dl, maxDocId(spark.table(tn.dl)))
    tn
  }

  /** O(batch) index growth: new docs' rows are disjoint from stored
    * ones, so the append touches no existing row — the cheapest cell
    * of any maintenance matrix in the engine. The strictly-above id
    * contract, against the dl relation's pinned historical max doc_id,
    * is the uniqueness guarantee (a duplicated doc_id would silently
    * double that doc's tf mass).
    */
  def searchIndexAppend(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, prefix: String): Unit = {
    val tn = searchIndexTables(prefix)
    val (post, dl) = idxRelations(newDocs)
    val maxOld = pinnedMaxDocId(spark, tn.dl)
    val minNewR = newDocs.agg(min(col("doc_id")), count(col("doc_id")),
      countDistinct(col("doc_id")), max(col("doc_id"))).head()
    if (minNewR.isNullAt(0)) return
    val minNew = minNewR.getLong(0)
    require(minNew > maxOld,
      s"searchIndexAppend: batch doc_id $minNew interleaves the stored " +
        s"corpus (max stored $maxOld) — ids must be fresh " +
        "or a doc's tf mass double-counts")
    // the cross-batch ordering above can't see a duplicate WITHIN one
    // batch, which double-counts that doc's tf mass just the same
    // (ADVICE r15)
    require(minNewR.getLong(1) == minNewR.getLong(2),
      s"searchIndexAppend: batch carries duplicated doc_ids " +
        s"(${minNewR.getLong(1)} rows, ${minNewR.getLong(2)} distinct) — " +
        "a duplicated doc_id double-counts that doc's tf mass")
    post.write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(tn.postings)
    dl.write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(tn.dl)
    pinMaxDocId(spark, tn.dl, minNewR.getLong(3))
  }

  /** Doc-keyed takedown: one anti-join rewrite per relation, in place,
    * so the dl relation keeps its historical doc_id pin. The derived
    * views (df, corpus totals) forget the deleted docs by construction —
    * BM25's idf and length normalization shift exactly as a
    * from-scratch index on the survivors would, which is what the q369
    * oracle (a full DuckDB rebuild on survivors) proves.
    */
  def searchIndexTakedown(spark: org.apache.spark.sql.SparkSession,
      deletedDocs: DataFrame, prefix: String): Unit = {
    val tn = searchIndexTables(prefix)
    val del = broadcast(deletedDocs.select(col("doc_id")).distinct()
      .localCheckpoint(true))
    Seq(tn.postings, tn.dl).foreach(tbl =>
      Tables.replace(spark, tbl,
        spark.table(tbl).join(del, Seq("doc_id"), "left_anti")))
  }

  def searchTombTable(prefix: String): String = s"${prefix}_stomb"

  /** LSM-shape deletion for the STORED search index — the q356
    * doctrine one tier over (q378): a physical anti-join rewrite of
    * the corpus-sized postings relation per deletion micro-batch is
    * the wrong amortization for a stream, so right-to-be-forgotten
    * requests land as cheap doc_id TOMBSTONE appends.
    * [[bm25FromStored]] anti-joins the pending set — a deleted doc is
    * unservable the moment its tombstone lands, and because df and the
    * corpus totals are DERIVED from the filtered relations at read
    * time, the tombstone-filtered serve equals a from-scratch index on
    * the survivors EXACTLY (idf/length-normalization mass included),
    * not just "the doc is hidden". [[applySearchTombstones]] folds the
    * accumulated set into ONE physical takedown rewrite and retires
    * the tombstone table. Deletion is idempotent by nature; the
    * presence-set append ([[graft.util.Tables.appendAbsent]]) just keeps
    * the pending set duplicate-free under at-least-once delivery, and
    * never creates it empty (an empty pending set would make the apply
    * rewrite the whole index for nothing).
    */
  def addSearchTombstones(spark: org.apache.spark.sql.SparkSession,
      deletedDocs: DataFrame, prefix: String): Unit =
    appendAbsent(spark, searchTombTable(prefix), deletedDocs, "doc_id")

  /** Fold the pending tombstones into one physical rewrite (the q369
    * takedown) and retire the tombstone table. Serves are byte-
    * identical before and after — compaction invisible to readers,
    * the q347/q356 doctrine (SearchIndexSpec pins it).
    */
  def applySearchTombstones(spark: org.apache.spark.sql.SparkSession,
      prefix: String): Unit = {
    val tt = searchTombTable(prefix)
    if (!spark.catalog.tableExists(tt)) return
    searchIndexTakedown(spark, spark.table(tt), prefix)
    dropTable(spark, tt)
  }

  /** q245's scorer reading the STORED index — the serve path of the
    * lifecycle. The plan touches postings of the QUERY terms only (the
    * broadcast semi-prune lands on the postings scan), dl, and two
    * term-bounded derived aggregates; the corpus text is never read.
    * A pending tombstone set (q378's streamed deletion) anti-joins
    * BOTH stored relations before anything derives, so every
    * downstream stat is survivor-exact; the set is deletion-sized
    * between applies (broadcast — RTBF batches, folded regularly by
    * [[applySearchTombstones]]; a bulk expiry should apply first).
    */
  def bm25FromStored(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(String, String)], k: Int, prefix: String): DataFrame = {
    val tn = searchIndexTables(prefix)
    import spark.implicits._
    val q = queries.toDF("query_id", "term")
    val tomb =
      if (spark.catalog.tableExists(searchTombTable(prefix)))
        Some(broadcast(spark.table(searchTombTable(prefix))))
      else None
    def live(df: DataFrame): DataFrame =
      tomb.map(t => df.join(t, Seq("doc_id"), "left_anti")).getOrElse(df)
    val post = live(spark.table(tn.postings))
    val dl = live(spark.table(tn.dl))
    val totals = dl.agg(sum(col("dl")).as("l"), count(lit(1)).as("n"))
    val dfreq = post.join(broadcast(q.select("term").distinct()),
        Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tf = post.join(broadcast(q), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term"), col("tf"))
    bm25TopK(RetrievalRels(tf, dl, dfreq, totals), k)
  }

  /** q287 body: reciprocal-rank fusion — the hybrid-retrieval combiner
    * (Cormack et al. 2009) that merges rankings WITHOUT comparable
    * scores: fused(d) = Σ_r 1/(rrfK + rank_r(d)) over the rankers that
    * shortlisted d. Rankers here: BM25 (q245's scorer) and a linear
    * TF-IDF ranker whose per-term weight is the exact integer
    * (n·10⁶ div df) — both shortlists are top-`shortlist` per query, so
    * the fusion frame is (2·shortlist)-bounded per query regardless of
    * corpus size. The RRF sum is a FIXED two-term IEEE tree
    * (coalesce(1/(60+ra), 0) + coalesce(1/(60+rb), 0)) — no float
    * aggregation, bit-identical across engines; ties break on doc_id.
    *
    * Scale shape: one corpus tokenization feeds both rankers
    * ([[retrievalRels]]); each ranker is a WindowGroupLimit top-k per
    * query; the fusion full-outer join touches only shortlist rows.
    */
  def rrfFusion(docs: DataFrame, queries: Seq[(String, String)] = Bm25Queries,
      shortlist: Int = 20, k: Int = 5, rrfK: Int = 60): DataFrame = {
    // k may exceed shortlist: the fused pool is the UNION of two
    // shortlists, up to 2·shortlist docs per query
    require(shortlist > 0 && k > 0, s"need positive shortlist/k, got $shortlist/$k")
    val rels = retrievalRels(docs, queries)
    val rankA = bm25TopK(rels, shortlist)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rank_bm25"))
    val dec = "decimal(38,0)"
    val scoredB = rels.tf
      .join(broadcast(rels.dfreq), Seq("term"))
      .crossJoin(broadcast(rels.totals))
      .groupBy("query_id", "doc_id")
      // decimal(38,0), not Long: tf·(n·10⁶ div df) overflows 2⁶³ once
      // tf·n > ~9.2e12 (df=1, billion-doc corpus) and non-ANSI Long
      // arithmetic would wrap silently while the HUGEINT oracle stays
      // exact — the same hazard score_u above routes through decimal
      .agg(sum(expr(
        s"CAST(tf AS $dec) * ((CAST(n AS $dec) * 1000000) div df)"))
        .as("score_b"))
    val wB = Window.partitionBy("query_id")
      .orderBy(col("score_b").desc, col("doc_id").asc)
    val rankB = scoredB.withColumn("rnk", row_number().over(wB).cast("int"))
      .where(col("rnk") <= shortlist)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rank_tfidf"))
    val fused = rankA.join(rankB, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_tfidf")), lit(0.0)))
    val wF = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(wF).cast("int"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("rank_bm25"), col("rank_tfidf"), col("rrf"))
      .orderBy("query_id", "rnk")
  }

  /** Rank discounts 1/log2(r+1) for r = 1..10, and the cumulative ideal
    * DCG for R = 1..10 relevant docs — computed ONCE here in Scala and
    * embedded as shortest-roundtrip double literals in BOTH engines (the
    * q180 one-list doctrine), so no libm log2 parity bet ever enters the
    * graded surface.
    */
  private val NdcgDiscounts: Seq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
  private val NdcgIdeal: Seq[Double] = NdcgDiscounts.scanLeft(0.0)(_ + _).tail

  /** q291 body: retrieval evaluation — nDCG@10 and recall@10 of the
    * BM25 ranking against DERIVED binary relevance (a doc is relevant to
    * a query iff it contains ALL the query's terms — computable by both
    * engines from the corpus, no judgment file). The metric layer every
    * retrieval pipeline needs next to its rankings (q245/q287): rank
    * quality as a number you can regress on.
    *
    * Exactness: discounts and ideal-DCG values are shared literals (no
    * log2 parity bet); the per-query DCG sums decimal-cast terms (exact,
    * order-independent) and only the final DCG/IDCG division runs in
    * double — one IEEE op, identical bits. recall is exact integer basis
    * points. Scale shape: one retrievalRels tokenization; relevance is a
    * (query, doc) aggregate over the already-term-pruned tf relation;
    * the metric join touches only top-k rows per query.
    */
  def retrievalNdcg(docs: DataFrame,
      queries: Seq[(String, String)] = Bm25Queries, k: Int = 10): DataFrame = {
    require(k > 0 && k <= 10, s"k must be in [1, 10] (discount table), got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val dec = "decimal(30,15)"
    val rels = retrievalRels(docs, queries)
    val ranked = bm25TopK(rels, k)
    val qn = queries.groupBy(_._1).map { case (q, ts) =>
      (q, ts.map(_._2).distinct.size.toLong)
    }.toSeq.toDF("query_id", "qn")
    val relevant = rels.tf.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nh"))
      .join(broadcast(qn), Seq("query_id"))
      .where(col("nh") === col("qn"))
      .select(col("query_id"), col("doc_id"))
    val rcount = qn.select("query_id")
      .join(relevant.groupBy("query_id").agg(count(lit(1)).as("n_relevant")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"))
    ndcgOf(ranked, relevant, rcount, k).orderBy("query_id")
  }

  /** The q291 metric block factored over ANY (query_id, rnk, doc_id)
    * ranking — per query: n_relevant, hits@k, exact recall basis
    * points, and nDCG@k from the shared literal discount tables.
    * q375 evaluates three rankings (BM25 leg, ANN leg, fused) against
    * the same derived relevance through this one definition.
    */
  private def ndcgOf(ranked: DataFrame, relevant: DataFrame,
      rcount: DataFrame, k: Int): DataFrame = {
    val dec = "decimal(30,15)"
    val discArr = NdcgDiscounts.map(d => s"CAST('$d' AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val idealArr = NdcgIdeal.map(d => s"CAST('$d' AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val dcg = ranked
      .join(relevant.withColumn("rel", lit(1)), Seq("query_id", "doc_id"),
        "left")
      .withColumn("disc", expr(s"element_at($discArr, rnk)"))
      .groupBy("query_id")
      .agg(sum(when(col("rel") === 1, col("disc").cast(dec))
          .otherwise(lit(0).cast(dec))).as("dcg_dec"),
        sum(when(col("rel") === 1, 1L).otherwise(0L)).as("hits"))
    rcount.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevant"),
        coalesce(col("hits"), lit(0L)).as("hits_at_k"),
        expr("CASE WHEN n_relevant = 0 THEN 0 " +
          "ELSE hits * 10000 div n_relevant END").as("recall_bp"),
        expr(s"""CASE WHEN n_relevant = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(dcg_dec AS DOUBLE) /
          |  element_at($idealArr, CAST(least($k, n_relevant) AS INT))
          |END""".stripMargin).as("ndcg"))
  }

  /** q375 body: HYBRID-retrieval EVALUATION — the measure-the-dial
    * doctrine applied to q364's fusion: what does each ranker trade?
    * All three rankings (the BM25 leg, the PRF-vector ANN leg, the RRF
    * fusion) come from ONE hybridFuse pass (the fused frame carries
    * both leg ranks, so each leg's own top-k is a filter, not a
    * recomputation) and are scored with the same nDCG@k arithmetic
    * under TWO relevance definitions:
    *
    *  - `lexical`: q291's derived labels (a doc is relevant iff it
    *    contains EVERY query term) — BM25's home turf by construction;
    *  - `vector`: the exact cosine top-20 of the PRF query vector —
    *    the semantic neighborhood the ANN leg serves.
    *
    * Each pure leg tends to dominate its own definition and pay on the
    * other; fusion buys robustness across definitions (Cormack et al.
    * 2009) at some cost to each single-definition peak — a trade to be
    * MEASURED, not assumed, which is why the per-cell numbers are the
    * graded artifact (on this corpus the fused ranking does give up
    * individual cells to a home-turf leg). Output: one metric row per
    * (relevance, ranker, query). Engine-side ANN leg → golden.
    */
  def hybridEval(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val v = SimilarityOps.vectors(spark, dir)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_heval")
    val rels = retrievalRels(docs, Bm25Queries)
    val bm = bm25TopK(rels, 20)
    // k = 2*shortlist keeps EVERY fused row so the legs' own top-k
    // come out of the same frame by filter
    val all = AnnIndexOps.hybridFuse(spark, bm,
        v.select(col("vec_id"), col("v")), "graft_heval", 20, 40, 60)
      .localCheckpoint(true)
    val qn = Bm25Queries.groupBy(_._1).map { case (q, ts) =>
      (q, ts.map(_._2).distinct.size.toLong)
    }.toSeq.toDF("query_id", "qn")
    val lexRel = rels.tf.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nh"))
      .join(broadcast(qn), Seq("query_id"))
      .where(col("nh") === col("qn"))
      .select(col("query_id"), col("doc_id"))
      .localCheckpoint(true)
    // vector relevance: exact cosine top-20 of the PRF query vector
    val qv = AnnIndexOps.prfVectors(bm, v.select(col("vec_id"), col("v")))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    val vecRel = v.select(col("vec_id").as("doc_id"), col("v"))
      .crossJoin(broadcast(qv))
      .withColumn("sim", SimilarityOps.cosine("qv", "v"))
      .withColumn("vrnk", row_number().over(wv))
      .where(col("vrnk") <= 20)
      .select(col("query_id"), col("doc_id"))
      .localCheckpoint(true)
    def evalAll(relTag: String, relevant: DataFrame): DataFrame = {
      val rcount = qn.select("query_id")
        .join(relevant.groupBy("query_id")
          .agg(count(lit(1)).as("n_relevant")), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_relevant"), lit(0L)).as("n_relevant"))
      def one(tag: String, rankCol: String): DataFrame =
        ndcgOf(all.where(col(rankCol) <= k)
            .select(col("query_id"), col(rankCol).as("rnk"), col("doc_id")),
          relevant, rcount, k)
          .withColumn("ranker", lit(tag))
      one("ann", "rank_ann")
        .unionByName(one("bm25", "rank_bm25"))
        .unionByName(one("fused", "rnk"))
        .withColumn("relevance", lit(relTag))
    }
    evalAll("lexical", lexRel).unionByName(evalAll("vector", vecRel))
      .select(col("relevance"), col("ranker"), col("query_id"),
        col("n_relevant"), col("hits_at_k"), col("recall_bp"), col("ndcg"))
      .orderBy("relevance", "ranker", "query_id")
  }

  private def ndcgSql(queries: Seq[(String, String)], k: Int): String = {
    val qnValues = queries.groupBy(_._1).map { case (q, ts) =>
      s"('$q', ${ts.map(_._2).distinct.size})"
    }.toSeq.sorted.mkString(", ")
    val discValues = NdcgDiscounts.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST('$d' AS DOUBLE))" }
      .mkString(", ")
    val idealValues = NdcgIdeal.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST('$d' AS DOUBLE))" }
      .mkString(", ")
    s"""WITH ${bm25Ctes(queries)},
      |topk AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= $k),
      |qn(query_id, qn) AS (VALUES $qnValues),
      |disc(rnk, d) AS (VALUES $discValues),
      |ideal(nrel, idcg) AS (VALUES $idealValues),
      |rel AS (SELECT tfr.query_id, tfr.doc_id
      |  FROM tfr JOIN qn ON qn.query_id = tfr.query_id
      |  GROUP BY tfr.query_id, tfr.doc_id, qn.qn
      |  HAVING COUNT(*) = qn.qn),
      |rc AS (SELECT qn.query_id,
      |    CAST(COALESCE(COUNT(rel.doc_id), 0) AS BIGINT) AS n_relevant
      |  FROM qn LEFT JOIN rel ON rel.query_id = qn.query_id
      |  GROUP BY qn.query_id),
      |dd AS (SELECT t.query_id,
      |    SUM(CASE WHEN rel.doc_id IS NOT NULL
      |        THEN CAST(disc.d AS DECIMAL(30,15))
      |        ELSE CAST(0 AS DECIMAL(30,15)) END) AS dcg_dec,
      |    CAST(SUM(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hits
      |  FROM topk t
      |  JOIN disc ON disc.rnk = t.rnk
      |  LEFT JOIN rel ON rel.query_id = t.query_id
      |    AND rel.doc_id = t.doc_id
      |  GROUP BY t.query_id)
      |SELECT rc.query_id, rc.n_relevant,
      |  CAST(COALESCE(dd.hits, 0) AS BIGINT) AS hits_at_k,
      |  CAST(CASE WHEN rc.n_relevant = 0 THEN 0
      |    ELSE COALESCE(dd.hits, 0) * 10000 // rc.n_relevant END AS BIGINT)
      |    AS recall_bp,
      |  CASE WHEN rc.n_relevant = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE CAST(dd.dcg_dec AS DOUBLE) /
      |      (SELECT idcg FROM ideal
      |       WHERE nrel = LEAST($k, rc.n_relevant)) END AS ndcg
      |FROM rc LEFT JOIN dd ON dd.query_id = rc.query_id
      |ORDER BY rc.query_id""".stripMargin
  }

  /** The retrieval + BM25-ranking CTE block shared verbatim by q245 and
    * q287's oracle texts (ONE definition — the two oracles cannot drift).
    */
  private def bm25Ctes(queries: Seq[(String, String)],
      docFilter: String = ""): String = {
    val values = queries
      .map { case (qid, term) => s"('$qid', '$term')" }.mkString(", ")
    s"""q(query_id, term) AS (VALUES $values),
      |tok AS (SELECT doc_id, tt.term
      |        FROM documents, UNNEST(string_split(text, ' ')) AS tt(term)
      |        WHERE text IS NOT NULL$docFilter),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS HUGEINT) AS dl
      |       FROM tok GROUP BY doc_id),
      |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS l,
      |          CAST(COUNT(DISTINCT doc_id) AS HUGEINT) AS n FROM tok),
      |dfr AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS HUGEINT) AS df
      |        FROM tok WHERE term IN (SELECT DISTINCT term FROM q)
      |        GROUP BY term),
      |tfr AS (SELECT q.query_id, t.doc_id, t.term,
      |          CAST(COUNT(*) AS HUGEINT) AS tf
      |        FROM tok t JOIN q ON q.term = t.term GROUP BY 1, 2, 3),
      |s AS (SELECT tfr.query_id, tfr.doc_id,
      |        ((2 * n - 2 * df + 1) * 22 * tfr.tf * l * 1000000)
      |          // ((2 * df + 1) * (10 * tfr.tf * l + 3 * l + 9 * dl.dl * n))
      |          AS score_u
      |      FROM tfr JOIN dl USING (doc_id) JOIN dfr USING (term)
      |      CROSS JOIN tot),
      |agg AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
      |          CAST(SUM(score_u) AS BIGINT) AS score_u
      |        FROM s GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, n_hit, score_u,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_u DESC, doc_id) AS INT) AS rnk
      |      FROM agg)""".stripMargin
  }

  private[ops] def bm25Sql(queries: Seq[(String, String)], k: Int,
      docFilter: String = ""): String =
    s"""WITH ${bm25Ctes(queries, docFilter)}
      |SELECT query_id, rnk, doc_id, n_hit, score_u
      |FROM r WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** q245's oracle text, shared verbatim by q368 (batch-appended index)
    * and q370 (streamed index) — one scoring contract, three builders.
    */
  private[graft] val bm25TopKSql: String = bm25Sql(Bm25Queries, 10)

  private def rrfSql(queries: Seq[(String, String)], shortlist: Int,
      k: Int, rrfK: Int): String =
    s"""WITH ${bm25Ctes(queries)},
      |ra AS (SELECT query_id, doc_id, rnk AS rank_bm25
      |       FROM r WHERE rnk <= $shortlist),
      |sb AS (SELECT tfr.query_id, tfr.doc_id,
      |        SUM(tfr.tf * ((n * 1000000) // df)) AS score_b
      |      FROM tfr JOIN dfr USING (term) CROSS JOIN tot GROUP BY 1, 2),
      |rb AS (SELECT query_id, doc_id,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_b DESC, doc_id) AS INT) AS rank_tfidf
      |      FROM sb),
      |f AS (SELECT COALESCE(ra.query_id, rbs.query_id) AS query_id,
      |        COALESCE(ra.doc_id, rbs.doc_id) AS doc_id,
      |        rank_bm25, rank_tfidf,
      |        COALESCE(CAST(1 AS DOUBLE) / ($rrfK + rank_bm25), 0.0)
      |          + COALESCE(CAST(1 AS DOUBLE) / ($rrfK + rank_tfidf), 0.0)
      |          AS rrf
      |      FROM ra FULL OUTER JOIN
      |        (SELECT * FROM rb WHERE rank_tfidf <= $shortlist) rbs
      |        ON ra.query_id = rbs.query_id AND ra.doc_id = rbs.doc_id),
      |rf AS (SELECT query_id, doc_id, rank_bm25, rank_tfidf, rrf,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY rrf DESC, doc_id) AS INT) AS rnk
      |      FROM f)
      |SELECT query_id, rnk, doc_id, rank_bm25, rank_tfidf, rrf
      |FROM rf WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** q279 body: per-source Gini–Simpson token diversity — the corpus
    * concentration dashboard that flags low-diversity (template/
    * machine-generated) sources before they dominate a training mix.
    * Simpson concentration Σ(c/n)² is an EXACT RATIONAL Σc²/n², unlike
    * Shannon entropy (whose ln() sum is both partition-order dependent
    * and libm-divergent across engines) — so the score lands on the
    * integer basis-point grid via one DECIMAL(38,0) floor division (the
    * q245 idiom: `div` here, `//` with HUGEINT in the oracle), exact
    * and order-independent at any scale. Complements q134's TTR, which
    * counts types but cannot see a skewed frequency profile over a
    * large vocabulary.
    *
    * Scale shape: one (source, term) aggregation (map-side combined),
    * then a source-bounded rollup — scan-speed, vocabulary-bounded,
    * no joins.
    */
  def simpsonDiversity(docs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val tf = docs.where(col("text").isNotNull)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("source")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("tf").cast(dec) * col("tf")).as("ssq"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr(s"""CAST((ssq * 10000) div
          |  (CAST(n_tokens AS $dec) * n_tokens) AS BIGINT)""".stripMargin)
          .as("concentration_bp"))
      .withColumn("diversity_bp", lit(10000L) - col("concentration_bp"))
      .orderBy("source")
  }

  private val simpsonDiversitySql: String =
    """WITH tf AS (SELECT source, term, CAST(COUNT(*) AS HUGEINT) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS tt(term)
      |  WHERE text IS NOT NULL GROUP BY source, term),
      |s AS (SELECT source, CAST(SUM(tf) AS HUGEINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_types, SUM(tf * tf) AS ssq
      |  FROM tf GROUP BY source)
      |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
      |  CAST((ssq * 10000) // (n_tokens * n_tokens) AS BIGINT)
      |    AS concentration_bp,
      |  CAST(10000 - (ssq * 10000) // (n_tokens * n_tokens) AS BIGINT)
      |    AS diversity_bp
      |FROM s ORDER BY source""".stripMargin

  /** q337 body: ZIPF rank-frequency slope audit — the corpus-health
    * number (natural language sits near slope −1 in log-log space;
    * template spam flattens it, OCR noise steepens the tail) computed
    * with NO libm anywhere: both axes go through the shared 64-entry
    * literal log2 mantissa table ([[VocabModelOps.microLog2Spark]],
    * the q328 doctrine) scaled to milli-bits, and the least-squares
    * slope over the top-`topK` ranks is one exact integer formula,
    *
    *   slope‰ = −( (Σx·Σy − n·Σxy) · 1000 div (n·Σxx − Σx·Σx) ).
    *
    * The numerator is NEGATED-BEFORE-DIVISION on purpose: counts are
    * non-increasing in rank, so by the Chebyshev sum inequality
    * Σx·Σy − n·Σxy ≥ 0, and flooring a NON-NEGATIVE quotient is the
    * one integer-division semantics Spark (`div`, truncates toward
    * zero) and DuckDB (`//`, floors) agree on — a negative numerator
    * would silently diverge by one between the engines.
    *
    * Milli-bit magnitude audit: x ≤ 8000 (log2(256)·10³),
    * y ≤ 45000 (counts to 2⁴⁵), so n·Σxy ≤ 3·10¹³ and the ×1000
    * numerator ≤ 3·10¹⁶ — Long-safe with two orders to spare.
    *
    * Scale shape: one vocabulary-bounded count exchange with map-side
    * combine; TakeOrdered keeps the global sort a top-k; the rank
    * window and the stats aggregate run on ≤ topK rows.
    */
  def zipfSlope(docs: DataFrame, topK: Int = 256): DataFrame = {
    val counts = docs.where(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(topK)
    val ranked = top
      .withColumn("r", row_number()
        .over(Window.orderBy(col("cnt").desc, col("term"))).cast("long"))
      .select(
        col("cnt"),
        expr(s"(${VocabModelOps.microLog2Spark("r")}) div 1000").as("x"),
        expr(s"(${VocabModelOps.microLog2Spark("cnt")}) div 1000").as("y"))
    ranked.agg(
        count(lit(1)).as("n"),
        max(col("cnt")).as("c_top"), min(col("cnt")).as("c_floor"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_terms"), col("c_top"), col("c_floor"),
        (-expr("((sx * sy - n * sxy) * 1000) div (n * sxx - sx * sx)"))
          .as("slope_permille"))
  }

  private val zipfSlopeSql: String = {
    val lx = VocabModelOps.microLog2Duck("rk.r")
    val ly = VocabModelOps.microLog2Duck("rk.cnt")
    s"""WITH counts AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE term <> '' GROUP BY term),
      |top AS (SELECT term, cnt FROM counts
      |  ORDER BY cnt DESC, term LIMIT 256),
      |rk AS (SELECT cnt, CAST(ROW_NUMBER()
      |    OVER (ORDER BY cnt DESC, term) AS BIGINT) AS r FROM top),
      |xy AS (SELECT rk.cnt,
      |    ($lx) // 1000 AS x,
      |    ($ly) // 1000 AS y
      |  FROM rk),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(MAX(cnt) AS BIGINT) AS c_top,
      |    CAST(MIN(cnt) AS BIGINT) AS c_floor,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM xy)
      |SELECT n AS n_terms, c_top, c_floor,
      |  CAST(-(((sx * sy - n * sxy) * 1000) // (n * sxx - sx * sx))
      |    AS BIGINT) AS slope_permille
      |FROM st""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q337_zipf_slope", Some(zipfSlopeSql),
      (spark, dir) => zipfSlope(t(spark, dir, "documents"))),

    QueryDef("q279_simpson_diversity", Some(simpsonDiversitySql),
      (spark, dir) => simpsonDiversity(t(spark, dir, "documents"))),

    // Persisted search-index lifecycle, append cell: materialize the
    // postings/dl relations on the id-leading 80%, append the tail
    // (disjoint rows — pure appends), serve BM25 from the stored index.
    // Held to q245's OWN full SQL oracle: the incrementally-grown index
    // must score exactly like a from-scratch one.
    QueryDef("q368_index_append", Some(bm25TopKSql),
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
          .getLong(0)
        searchIndexMaterialize(spark,
          docs.where(col("doc_id") <= cut), "graft_si")
        searchIndexAppend(spark, docs.where(col("doc_id") > cut),
          "graft_si")
        bm25FromStored(spark, Bm25Queries, 10, "graft_si")
      }),

    // Search-index takedown: doc-keyed anti-join rewrite; df / corpus
    // totals forget the deleted docs by derivation. The oracle is a
    // full DuckDB REBUILD on the survivors — swept-index scoring must
    // match an index that never saw the deleted docs.
    QueryDef("q369_index_takedown",
      Some(bm25Sql(Bm25Queries, 10, " AND doc_id % 13 <> 0")),
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        searchIndexMaterialize(spark, docs, "graft_sitd")
        searchIndexTakedown(spark,
          docs.where(col("doc_id") % 13 === 0).select(col("doc_id")),
          "graft_sitd")
        bm25FromStored(spark, Bm25Queries, 10, "graft_sitd")
      }),

    // Hybrid-retrieval evaluation: nDCG@5 / recall of the fused
    // ranking vs each leg against q291's derived relevance — the
    // measure-the-dial grade for q364's fusion. Golden.
    QueryDef("q375_hybrid_eval",
      graft.util.Tables.literalOracle("q375_hybrid_eval"),
      (spark, dir) => hybridEval(spark, dir)),

    QueryDef("q245_bm25_topk", Some(bm25TopKSql),
      (spark, dir) => bm25TopK(t(spark, dir, "documents"))),

    QueryDef("q287_rrf_fusion", Some(rrfSql(Bm25Queries, 20, 5, 60)),
      (spark, dir) => rrfFusion(t(spark, dir, "documents"))),

    QueryDef("q291_retrieval_ndcg", Some(ndcgSql(Bm25Queries, 10)),
      (spark, dir) => retrievalNdcg(t(spark, dir, "documents"))),

    QueryDef("q292_split_leakage", Some(splitLeakageSql),
      (spark, dir) => splitNgramLeakage(t(spark, dir, "documents"))),

    // Incremental index maintenance graded by the FULL-REBUILD oracle
    // (q133's text verbatim): delta-merge must be indistinguishable
    // from rebuilding the index over the whole corpus.
    QueryDef("q251_index_delta", Some(invertedIndexSql),
      (spark, dir) => indexDeltaMerge(t(spark, dir, "documents"))),

    QueryDef("q321_source_tvd", Some(sourceTvdSql),
      (spark, dir) => sourceTvd(t(spark, dir, "documents"))),

    QueryDef("q325_source_ablation", Some(sourceAblationSql),
      (spark, dir) => sourceAblation(t(spark, dir, "documents"))),

    QueryDef("q201_source_similarity", Some(sourceSimilaritySql),
      (spark, dir) => sourceSimilarity(t(spark, dir, "documents"))),

    QueryDef("q190_phrase_match", Some(phraseMatchSql),
      (spark, dir) => phraseMatch(t(spark, dir, "documents"))),
    QueryDef("q274_proximity_match", Some(proximityMatchSql(3)),
      (spark, dir) => proximityMatch(t(spark, dir, "documents"), slop = 3)),
    QueryDef("q184_ngram_novelty", Some(ngramNoveltySql),
      (spark, dir) => ngramNovelty(t(spark, dir, "documents"))),
    QueryDef("q132_term_drift", Some(termDriftSql),
      (spark, dir) => termDrift(t(spark, dir, "documents"))),
    QueryDef("q133_inverted_index", Some(invertedIndexSql),
      (spark, dir) => invertedIndex(t(spark, dir, "documents"))),
    QueryDef("q134_ngram_diversity", Some(ngramDiversitySql),
      (spark, dir) => ngramDiversity(t(spark, dir, "documents"))),
    QueryDef("q135_source_overlap", Some(sourceOverlapSql),
      (spark, dir) => sourceOverlap(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .unionByName(mirroredDocs(spark)))))
}
