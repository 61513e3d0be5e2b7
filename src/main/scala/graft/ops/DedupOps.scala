package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.util.Tables._

/** Deduplication operators over `documents` (SURVEY §7.4): exact
  * (group-by-content), MinHash+LSH banding, SimHash, and word-n-gram
  * Jaccard. All are pure DataFrame pipelines — shingle explode, hash-family
  * min-aggregation, band-bucket joins — so Catalyst plans partial
  * aggregation and shuffles on the bucket keys; nothing is collected to the
  * driver and every stage scales horizontally.
  *
  * MinHash/SimHash use Spark's xxhash64 (engine-specific hash family, not
  * recomputable in ANSI SQL) but are fully deterministic, so their graded
  * oracles are checked-in literal goldens (`resources/oracle/<name>.sql`,
  * generated by graft.tools.OracleGen and vetted by DedupSpec's planted
  * near-duplicates). Exact and n-gram-Jaccard have full DuckDB oracles.
  */
object DedupOps {

  /** Distinct word-3-gram shingles per document. */
  def shingles(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 3)
      .withColumn("shingles", expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat_ws(' ', slice(toks, i + 1, 3))))""".stripMargin))
      .select(col("doc_id"), col("shingles"))

  /** MinHash signatures: `perms` hash functions h_j(s) = xxhash64(s, j),
    * each minimized over the shingle set. Shaped "tall": explode (shingle,
    * permutation-index) into rows and run a plain two-level MIN aggregate.
    * The shingle set is already a per-row array, so the whole signature is
    * a map-side scalar — one UDF call per document, zero shuffles,
    * pipelined with the parquet scan. That is the 100 TB shape: signatures
    * never leave the mapper; the only exchanges in the dedup pipeline are
    * the (band, bhash) bucket aggregation downstream. (Rejected shapes,
    * measured at sf0.1: explode×perms + two-level MIN aggregate
    * materializes/shuffles ~17M rows; higher-order `transform`/`array_min`
    * is interpreted per element, ~50x slower; a 64-column wide MIN
    * aggregate makes Janino compile a megamorphic codegen blob, ~100s of
    * compile time per action.) Hash family byte-equal to the
    * `MinHashSketch` Aggregator — cross-checked in MinHashSketchSpec.
    */
  def minhashSignatures(docs: DataFrame, perms: Int): DataFrame = {
    val sig = udf((sh: Seq[String]) =>
      if (sh == null) null
      else graft.functions.MinHashSketch.signature(sh, perms))
    // one row per input doc: too-short-to-shingle (< 3 tokens) and
    // null-text docs carry a null signature instead of being dropped,
    // so the assignment below stays join-free and single-pass
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(
        """CASE WHEN size(toks) >= 3 THEN
          |  array_distinct(transform(sequence(0, size(toks) - 3),
          |    i -> concat_ws(' ', slice(toks, i + 1, 3)))) END""".stripMargin))
      .select(col("doc_id"), sig(col("shingles")).as("sig"))
  }

  /** LSH dedup assignment: band the signature, then give every doc the min
    * doc_id over all band-buckets it lands in — a 1-hop canonical id.
    * Bucket-min is a whole-partition window (no orderBy), so the plan is a
    * single pass: one shuffle on (band, bhash), one on doc_id — no
    * self-join, no cache, no recomputation. Output always has one row per
    * doc (`canonical_id = doc_id` when no near-dup candidate exists) —
    * including docs too short to shingle (< 3 tokens, or null text), which
    * band into private singleton buckets and so stay canonical = self —
    * keeping the whole assignment join-free (PlanSpec asserts no Join).
    */
  def minhashAssign(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 8): DataFrame =
    minhashBuckets(docs, bands, rowsPerBand)
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
      .groupBy("doc_id")
      .agg(min(col("bucket_min")).as("canonical_id"))
      .withColumn("is_dup", (col("canonical_id") < col("doc_id")).cast("int"))
      .orderBy("doc_id")

  /** Banded (doc_id, band, bhash) bucket memberships. Null-sig docs (null
    * text / too short to shingle) band into a PRIVATE singleton bucket
    * (band -1, bhash = own doc_id) rather than a separate filter+union
    * branch: the split would recompute the signature subtree once per
    * branch (the diamond trap — measured 5.2s vs ~1s at sf0.1), while a
    * singleton bucket costs nothing and yields the same semantics
    * (bucket_min = own doc_id -> canonical = self).
    */
  private[graft] def minhashBuckets(docs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    minhashSignatures(docs, bands * rowsPerBand)
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN sig IS NULL THEN
           |  array(named_struct('band', -1, 'bhash', doc_id))
           |ELSE transform(sequence(0, ${bands - 1}),
           |  b -> named_struct('band', b,
           |    'bhash', xxhash64(concat_ws(',', slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))))
           |END""".stripMargin))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bhash").as("bhash"))

  /** Flat duplicate CLUSTERS: the transitive closure the 1-hop assignment
    * ([[minhashAssign]]) deliberately skips. 1-hop gives every doc the min
    * id over its own buckets, which under-merges chains — with buckets
    * {3,7} and {2,7}, doc 3 is a local min (canonical = self) yet belongs
    * to component {2,3,7}. Here each bucket contributes star edges
    * (member — bucket-min, at most `bands` per doc, never the quadratic
    * in-bucket pair set), and labels converge by iterative min-label
    * propagation: label(d) <- min(label(d), min over neighbors' labels),
    * one join + one agg (2 shuffles) per round, rounds bounded by the
    * component diameter (near-dup chains are shallow in practice; hard cap
    * `maxIters`). Convergence test = one tiny decimal-sum action per round
    * (labels are monotone non-increasing, so an unchanged sum means a
    * fixpoint). This is GraphX-style CC expressed in pure DataFrame ops —
    * no driver-side adjacency, every round scales horizontally.
    */
  /** Star edges of the bucket graph: (member, bucket-min) per band-bucket,
    * deduplicated — at most `bands` edges per doc, never the quadratic
    * in-bucket pair set, and connectivity of each bucket is preserved
    * (every member links to the bucket min). The edge list a graph dedup
    * ([[minhashClusters]]) or any custom component analysis consumes.
    */
  def minhashEdges(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 8): DataFrame =
    minhashBuckets(docs, bands, rowsPerBand)
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
      .where(col("doc_id") =!= col("bucket_min"))
      .select(col("doc_id").as("a"), col("bucket_min").as("b"))
      .distinct()

  def minhashClusters(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 8,
      maxIters: Int = 15): DataFrame =
    minhashTiers(docs, bands, rowsPerBand, maxIters)._2

  /** Alternating large-star/small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii 2014, "Connected
    * Components in MapReduce and Beyond") over an undirected edge list:
    * the O(log²)-ROUND CC algorithm for graphs whose components are
    * DEEP, where [[minhashTiers]]' min-label propagation pays one round
    * per hop of component diameter. Each round rewires the edge set
    * itself instead of propagating labels —
    *
    *   large-star: every node u links its LARGER neighbors to
    *     m = min(Γ(u) ∪ {u});
    *   small-star: every node links its ≤-neighborhood (plus itself) to
    *     that set's min —
    *
    * which provably converges to one star per component, centered at
    * the component minimum, in O(log²) rounds (O(log) under the
    * paper's conditions). Deterministic (set operations + mins only),
    * so the output is byte-identical to label propagation's — which is
    * exactly how q308 is graded: against q51's OWN golden.
    *
    * Scale shape: each half-round is one groupBy(min) + one equi-join
    * over the CURRENT edge set (which only shrinks toward one edge per
    * non-minimum node), checkpointed flat per round (the q51 loop
    * doctrine); the convergence probe is a set-difference over two
    * checkpointed edge frames. No driver-side adjacency; rounds bounded
    * by log² of the deepest component, not its length.
    *
    * Returns (labels (node, comp) for every non-isolated node — each
    * component minimum labels to ITSELF via an explicit self-label
    * union, since minima never appear on the fixpoint edge list's
    * a-side — rounds used). Input orientation is normalized
    * internally; self-loops and duplicates are dropped.
    */
  def starComponentsWithRounds(edgesIn: DataFrame,
      maxIters: Int = 12): (DataFrame, Int) = {
    var edges = edgesIn
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // large-star
      val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = nbrs.where(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
      // small-star over the (a > b)-oriented large-star output: node a's
      // smaller neighborhood IS its b-side
      val minsS = ls.groupBy("a").agg(min(col("b")).as("m"))
      val withM = ls.join(minsS, Seq("a"))
      val newEdges = withM.where(col("b") =!= col("m"))
          .select(col("b").as("a"), col("m").as("b"))
        .unionByName(withM.select(col("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint(eager = true)
      converged = newEdges.count() == edges.count() &&
        newEdges.except(edges).isEmpty
      edges = newEdges
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] WARNING: starComponents hit maxIters=$maxIters before the " +
          "edge fixpoint — deeper components may be under-merged")
    // at the fixpoint each component is a star on its minimum; the
    // group-min is then the star center (and stays a valid upper bound
    // even if the cap was hit). Centers never appear on the a-side at
    // the fixpoint, so union explicit (center, center) self-labels —
    // the outer group-min collapses the (rare, cap-hit-only) case of a
    // node appearing on both sides to its best-known upper bound.
    (edges.groupBy(col("a").as("node")).agg(min(col("b")).as("comp"))
      .unionByName(
        edges.select(col("b").as("node"), col("b").as("comp")).distinct())
      .groupBy("node").agg(min("comp").as("comp")), iter)
  }

  /** q308 body: the SAME transitive dedup clusters as q51, computed by
    * the alternating-star CC instead of label propagation — graded
    * against q51's own golden oracle, so the two algorithms' outputs
    * are held byte-identical on the graded corpus. The algorithm-
    * diversity grade is the point: a banding or closure bug would have
    * to break both independent closures the same way to slip through.
    */
  def starClusters(docs: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 8): DataFrame = {
    val (labels, _) =
      starComponentsWithRounds(minhashEdges(docs, bands, rowsPerBand))
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("is_dup", (col("cluster_id") < col("doc_id")).cast("int"))
      .orderBy("doc_id")
  }

  /** Incremental (delta) dedup: assign each NEW-batch doc its MinHash
    * match against an EXISTING corpus — the daily-ingest shape at 100 TB,
    * where re-deduping the whole corpus per batch is not an option. Both
    * sides band with the same family; a new doc is flagged when any of its
    * band-buckets collides with an existing doc's, and `matched_id` is the
    * min colliding existing doc_id (deterministic under any scheduling).
    * Null/short docs band into private singleton buckets on both sides;
    * doc ids are globally unique, so cross-side singleton collisions
    * cannot happen and such docs always come out unmatched. Identical
    * text on both sides ⇒ identical signature ⇒ identical band keys ⇒
    * always matched (the q73 gate checks exactly this).
    *
    * Scale shape: one banded scan per side, one equi-join on
    * (band, bhash), one agg on the new-batch keys. In production the
    * existing side's bucket relation is computed once and stored bucketed
    * on its join key, so each daily delta joins against the layout without
    * rescanning corpus text — the delta (small) side broadcasts or
    * shuffles only itself.
    */
  def incrementalAssign(existing: DataFrame, newBatch: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 8): DataFrame =
    incrementalAssignAgainst(bucketTable(existing, bands, rowsPerBand),
      newBatch, bands, rowsPerBand)

  /** The existing corpus's banded bucket relation, the form a production
    * pipeline computes ONCE and stores bucketed on (band, bhash) — every
    * delta (batch or streaming micro-batch) then joins against the stored
    * layout without rescanning corpus text.
    */
  def bucketTable(existing: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 8): DataFrame =
    minhashBuckets(existing, bands, rowsPerBand)
      .select(col("band"), col("bhash"), col("doc_id").as("matched_id"))

  /** [[incrementalAssign]] against a precomputed [[bucketTable]] — the
    * hot path shared by the batch tier (q73) and the streaming tier
    * ([[graft.streaming.StreamingIncrementalDedup]]).
    */
  def incrementalAssignAgainst(existingBuckets: DataFrame, newBatch: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 8): DataFrame = {
    val matches = minhashBuckets(newBatch, bands, rowsPerBand)
      .join(existingBuckets, Seq("band", "bhash"))
      .groupBy("doc_id")
      .agg(min(col("matched_id")).as("matched_id"))
    newBatch.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .withColumn("is_known_dup", col("matched_id").isNotNull.cast("int"))
  }

  /** Both dedup tiers — the 1-hop assignment ([[minhashAssign]] semantics)
    * and the transitive clusters ([[minhashClusters]]) — from ONE banded
    * signature pass. A caller auditing the tiers against each other (the
    * invariant gate) would otherwise pay the signature scan + bucket
    * window twice for frames that share their whole prefix. Both returned
    * frames are pre-materialized (localCheckpoint) so no cache entries
    * survive the call.
    */
  def minhashTiers(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 8,
      maxIters: Int = 15, sortResult: Boolean = true): (DataFrame, DataFrame) = {
    // One banded+bucket-min pass feeds BOTH the edge list and the initial
    // labels (the 1-hop assignment): recomputing them separately would run
    // the signature scan twice, and starting from 1-hop labels instead of
    // identity collapses almost everything in the cheap window pass, so
    // the propagation loop below usually converges in a single round
    // (chains only). Initial labels are valid upper bounds: a 1-hop
    // canonical is in the doc's component and <= doc_id, and min-label
    // propagation converges to the component min from any such labeling.
    val withMin = minhashBuckets(docs, bands, rowsPerBand)
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
      .cache()
    val edges = withMin
      .where(col("doc_id") =!= col("bucket_min"))
      .select(col("doc_id").as("a"), col("bucket_min").as("b"))
      .distinct()
    // symmetrized once; kept un-repartitioned so AQE stays free to
    // broadcast the (near-dup-only, hence small relative to the corpus)
    // edge side of each round's join — an explicit hash-partition + cache
    // here measured 2x SLOWER by forcing co-partitioned shuffle joins
    val sym = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b")))
      .cache()
    val oneHop = withMin
      .groupBy("doc_id")
      .agg(min(col("bucket_min")).as("cluster_id"))
      .cache()
    // Only docs that touch an edge can ever change label (isolated docs
    // are canonical = self already in the 1-hop labels), so the
    // propagation loop iterates over the ACTIVE set only — the near-dup
    // fraction of the corpus, not the corpus. Symmetry of `sym` makes its
    // a-side cover every edge endpoint.
    //
    // Each round's labels go through localCheckpoint(eager), not cache():
    // a cache bounds recompute but not PLAN size — the analyzer would
    // re-walk a join tree one level deeper per round — and it would stay
    // registered in the CacheManager after return. The checkpoint cuts the
    // lineage to a flat LogicalRDD every round and its blocks are reclaimed
    // by the ContextCleaner once the frame is unreachable, so the function
    // leaves no cache entries behind (pinned by QueriesSpec).
    // lazy initial labels: round 1's checkpoint job reads them twice
    // (neigh join + stepped join), but both reads are oneHop/sym cache
    // hits — cheaper than a dedicated materialization action up front
    var labels = oneHop
      .join(sym.select(col("a").as("doc_id")), Seq("doc_id"), "left_semi")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neigh = sym
        .join(labels.withColumnRenamed("doc_id", "b"), Seq("b"))
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("cluster_id")).as("nmin"))
      // the round's checkpoint carries the PRE-round label alongside the
      // new one, so convergence is a changed-row probe over the flat
      // checkpointed frame — no separate baseline action before the loop
      // (labels are monotone non-increasing, so zero changed rows means
      // the fixpoint, exactly as the old sum-equality test did)
      val stepped = labels.join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(eager = true)
      converged = stepped.where(col("cluster_id") =!= col("old_id")).isEmpty
      labels = stepped.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    if (!converged)
      // labels are still valid upper bounds, but deep chains (> maxIters
      // hops beyond the 1-hop initialization) may be left under-merged —
      // the output would not be the documented transitive closure
      System.err.println(
        s"[graft] WARNING: minhashClusters hit maxIters=$maxIters before the " +
          "label fixpoint — components deeper than the cap are under-merged; " +
          "raise maxIters for this corpus")
    // materialize the results before dropping the caches they were built
    // from: the returned frames must neither recompute the banded scan on
    // first use nor leave cached frames registered after return. BOTH
    // tiers come off ONE checkpointed (doc_id, canonical_id, cluster_id)
    // frame — two separate checkpoints would pay two driver actions for
    // frames sharing their whole oneHop+labels subtree, and every extra
    // tiny driver action adds its scheduling latency to the query.
    // row set identical to [[minhashAssign]] but UNORDERED by default: the
    // gate consumer joins/aggregates only; q51 asks for its graded sort
    // via sortResult, paid lazily on top of the checkpointed base (no
    // second materialization of the tree).
    val combined = oneHop
      .join(labels.withColumnRenamed("cluster_id", "closed"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id").as("canonical_id"),
        coalesce(col("closed"), col("cluster_id")).as("cluster_id"))
      .localCheckpoint(eager = true)
    val assign = combined
      .select(col("doc_id"), col("canonical_id"))
      .withColumn("is_dup", (col("canonical_id") < col("doc_id")).cast("int"))
    val unordered = combined
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("is_dup", (col("cluster_id") < col("doc_id")).cast("int"))
    // the global sort (a range-partition exchange + its sampling pass) is
    // only worth paying for the hash-graded q51 output; gate consumers
    // (joins/aggs only) skip it via sortResult = false
    val result = if (sortResult) unordered.orderBy("doc_id") else unordered
    withMin.unpersist()
    sym.unpersist()
    oneHop.unpersist()
    (assign, result)
  }

  /** 64-bit SimHash over distinct tokens; banded into 4×16-bit chunks for
    * candidate buckets, same 1-hop canonical assignment as MinHash.
    * Docs with null text carry a null simhash and band into PRIVATE
    * (band -1, chunk = own doc_id) singleton buckets — the same pattern as
    * [[minhashAssign]] — so they come out canonical = self in the same
    * single pass. (A zero/shared signature would silently collapse every
    * null-text doc into one cluster; a filter+union split would recompute
    * the signature subtree per branch.)
    */
  def simhashAssign(docs: DataFrame, sort: Boolean = true): DataFrame = {
    val sigs = simhashSignatures(docs)
    // Same singleton-bucket pattern as minhashAssign: null-simhash docs
    // (null text) get a private (band -1, chunk = own doc_id) bucket, so
    // they come out canonical = self in the same single pass — no
    // filter+union diamond recomputing the signature subtree.
    val bucketed = sigs
      .select(col("doc_id"), col("simhash"),
        explode(expr(
          """CASE WHEN simhash IS NULL THEN
            |  array(named_struct('band', -1, 'chunk', doc_id))
            |ELSE transform(sequence(0, 3),
            |  b -> named_struct('band', b,
            |    'chunk', shiftright(simhash, b * 16) & 65535))
            |END""".stripMargin)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    val out = bucketed
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "chunk")))
      .groupBy("doc_id")
      .agg(min(col("bucket_min")).as("canonical_id"), min(col("simhash")).as("simhash"))
      .select(col("doc_id"), col("canonical_id"), col("simhash"))
    // global sort only for the hash-graded q25 output; gate consumers
    // (joins/aggs) skip the range exchange + sampling pass
    if (sort) out.orderBy("doc_id") else out
  }

  /** 64-bit SimHash per doc: per-bit signed balance over the distinct
    * token hashes (xxhash64, seed 42 — same family as the SQL builtin),
    * sign bits packed into a long. Null text -> null simhash (NOT 0: a
    * zero signature would alias every null-text doc into one near-dup
    * cluster downstream). Like the MinHash signature this is a map-side
    * scalar over the per-row token array — zero shuffles; the rejected
    * explode(64 bits)×token two-level aggregate shuffled ~17M rows at
    * sf0.1 for identical output (pinned in DedupSpec).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val sim = udf((toks: Seq[String]) =>
      if (toks == null) null
      else {
        val bal = new Array[Int](64)
        toks.foreach { t =>
          val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
              org.apache.spark.sql.types.StringType, 42L)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) bal(b) += 1 else bal(b) -= 1
            b += 1
          }
        }
        var acc = 0L
        var b = 0
        while (b < 64) { if (bal(b) > 0) acc |= (1L << b); b += 1 }
        java.lang.Long.valueOf(acc)
      }: java.lang.Long)
    docs.select(col("doc_id"),
      sim(array_distinct(split(col("text"), " "))).as("simhash"))
  }

  /** Word-3-gram Jaccard near-dup pairs. Candidates = pairs sharing a RARE
    * shingle (df in [2,5]) — the scale path: common shingles never fan out
    * into quadratic candidate sets. The Jaccard >= 0.3 test is pure integer
    * arithmetic (10*common >= 3*union), so the DuckDB oracle matches bit-
    * for-bit.
    */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    // the plan is diamond-shaped (sh feeds 4 branches, rareEx both sides of
    // a self-join); cache the shared frames or every branch re-derives the
    // shingle pipeline — measured 225s -> 4s at sf0.1
    val sh = shingles(docs).cache()
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s")).cache()
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, 5)).select("s")
    val rareEx = ex.join(broadcast(rare), "s").cache()
    val cand = rareEx.as("a").join(rareEx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSets = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
    withSets
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("common"),
        size(col("sa")).as("n_a"), size(col("sb")).as("n_b"))
      .where(expr("10 * common >= 3 * (n_a + n_b - common)"))
      .orderBy("doc_a", "doc_b")
  }

  private val ngramJaccardSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE length(text) - length(replace(text, ' ', '')) + 1 >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM w, UNNEST(range(1, len(w) - 1)) t(i)),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 5),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM (SELECT * FROM sh JOIN rare USING (s)) a
      |         JOIN (SELECT * FROM sh JOIN rare USING (s)) b
      |           ON a.s = b.s AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n FROM sh GROUP BY doc_id),
      |com AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS INT) AS common
      |        FROM cand c
      |        JOIN sh x ON x.doc_id = c.doc_a
      |        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      |        GROUP BY c.doc_a, c.doc_b)
      |SELECT com.doc_a, com.doc_b, com.common, na.n AS n_a, nb.n AS n_b
      |FROM com
      |JOIN sizes na ON na.doc_id = com.doc_a
      |JOIN sizes nb ON nb.doc_id = com.doc_b
      |WHERE 10 * com.common >= 3 * (na.n + nb.n - com.common)
      |ORDER BY com.doc_a, com.doc_b""".stripMargin

  /** q324 body: MinHash estimator CALIBRATION audit — the observability
    * tier of the dedup stack: the banding decision (q24) trusts that
    * signature agreement estimates Jaccard, so a production pipeline
    * MONITORS that estimate against exact Jaccard on the (bounded)
    * candidate set it actually acts on. For every LSH candidate pair:
    * est = matching signature positions / perms (the classic unbiased
    * MinHash estimator), true = |shingles∩| / |shingles∪| (exact
    * integers on the distinct shingle arrays), both in permille; the
    * graded census buckets pairs by |est − true| (bins of 50‰) with
    * per-bin mean true/est — a drifting hash family, a banding bug, or
    * a shingle-normalization mismatch all surface as mass sliding to
    * high-error bins. The candidate set is LSH's (biased toward high
    * Jaccard BY DESIGN — these are the pairs the dedup decision
    * touches); corpus rides with q113's planted variant docs so the
    * high-similarity bins are populated at every SF.
    *
    * Scale shape: candidate pairs are bucket-bounded (q24's banding
    * arithmetic); each pair rejoins signatures and shingle arrays by
    * doc_id and the est/true arithmetic is row-local array work; the
    * census is a ≤ 21-key aggregate. xxhash64 signatures are
    * engine-side → literal golden (the q24 family's grading).
    */
  def minhashCalibration(docs: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 8): DataFrame = {
    val perms = bands * rowsPerBand
    val bk = minhashBuckets(docs, bands, rowsPerBand)
      .where(col("band") >= 0)
    val cand = bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bhash") === col("b.bhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sigs = minhashSignatures(docs, perms).where(col("sig").isNotNull)
    val sh = shingles(docs)
    cand
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")),
        Seq("da"))
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")),
        Seq("db"))
      .withColumn("est_pm", expr(s"""1000 *
        |size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))
        |div $perms""".stripMargin))
      .join(sh.select(col("doc_id").as("da"), col("shingles").as("sha")),
        Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("shingles").as("shb")),
        Seq("db"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("true_pm", expr(
        "1000 * inter div (size(sha) + size(shb) - inter)"))
      .withColumn("err_bin", expr("abs(est_pm - true_pm) div 50"))
      .groupBy("err_bin")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(true_pm) div count(1)").as("avg_true_pm"),
        expr("sum(est_pm) div count(1)").as("avg_est_pm"))
      .orderBy("err_bin")
  }

  /** Planted moderate-Jaccard pairs for q324: prefix-sharing token
    * runs at overlaps ~0.9 / 0.77 / 0.65 — exact-twin candidates sit in
    * error-bin 0 trivially, these populate the bins where estimator
    * variance actually lives (σ ≈ √(J(1−J)/64) ≈ 50‰). Banding at
    * J ≈ 0.65 is probabilistic by design; whatever the hash family
    * decides, the golden freezes it. Ids above every real doc_id.
    */
  private def calibrationDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def toks(from: Int, n: Int, tag: String) =
      (from until from + n).map(i => s"cal_${tag}_t$i").mkString(" ")
    Seq(
      (2100000001L, toks(0, 50, "a")),
      (2100000002L, toks(0, 45, "a") + " " + toks(100, 5, "a")),
      (2100000003L, toks(0, 50, "b")),
      (2100000004L, toks(0, 40, "b") + " " + toks(100, 10, "b")),
      (2100000005L, toks(0, 50, "c")),
      (2100000006L, toks(0, 35, "c") + " " + toks(100, 15, "c")))
      .toDF("doc_id", "text")
  }

  /** q329 body: PARAGRAPH-granularity near-dup mass — the RefinedWeb /
    * FineWeb line-level dedup shape (Penedo et al. 2023 dedup at
    * sub-document granularity and reassemble), which document-level
    * MinHash (q24) structurally cannot see: two long documents sharing
    * one boilerplate paragraph have low DOCUMENT Jaccard (no banding
    * collision) but an exact shared paragraph. Explode each document
    * into fixed `parTokens`-token paragraphs (the corpus has no
    * newline structure, so the deterministic separator is the q91
    * fixed-window chunk), run the EXISTING MinHash banding at
    * paragraph granularity (paragraph key = doc_id·2¹⁶ + index — the
    * same machinery, one level down), and collapse back to the per-doc
    * census: paragraph count, duplicate-paragraph count (bucket-min
    * 1-hop: a paragraph is dup when an earlier paragraph anywhere in
    * the corpus collides with it — the keep-first-occurrence
    * convention), and duplicate token mass.
    *
    * Scale shape: q24's exactly — signatures are map-side per
    * paragraph, the only exchanges are the (band, bhash) bucket window
    * and the per-key aggregates; paragraphs multiply rows by a bounded
    * per-doc factor (tokens/parTokens). Short tails (< 3 tokens) band
    * into private singleton buckets and stay canonical = self, the
    * q24 null-sig doctrine. Engine-side xxhash64 → literal golden;
    * DedupSpec plants the cross-doc shared paragraph q24 must NOT
    * collapse and an intra-doc repeat.
    */
  def paragraphDupMass(docs: DataFrame, parTokens: Int = 20,
      bands: Int = 8, rowsPerBand: Int = 8): DataFrame = {
    val perDoc = paragraphAssignments(docs, parTokens, bands, rowsPerBand)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pars"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_pars"),
        sum(when(col("dup"), col("par_toks").cast("long")).otherwise(0L))
          .as("dup_tokens"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pars"), lit(0L)).as("n_pars"),
        coalesce(col("n_dup_pars"), lit(0L)).as("n_dup_pars"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy("doc_id")
  }

  /** Shared q329/q332 core: every paragraph of every non-null-text doc
    * with its banding verdict — (doc_id, par_idx, pid, par, par_toks,
    * dup), where dup means an earlier pid anywhere in the corpus
    * collides with this paragraph (keep-first). The census (q329) and
    * the reassembly scrub (q332) both aggregate this frame.
    */
  /** Fixed-window paragraph explode shared by the whole paragraph
    * tier (q329/q332/q336): (doc_id, par_idx, pid, par, par_toks).
    *
    * pid packs (doc_id, par_idx) into one Long — doc_id · 2²⁰ + par_idx
    * — because keep-first dedup needs a single orderable key whose order
    * is (doc_id, par_idx) lexicographic. The packing is only injective
    * while par_idx < 2²⁰ (≈21M whitespace tokens per doc at
    * parTokens=20) and doc_id < 2⁴³ (no Long overflow); a violation
    * would silently alias pids ACROSS documents and corrupt keep-first,
    * so both bounds fail loudly in the plan via raise_error (ADVICE
    * r13 — the old 2¹⁶ shift aliased at ~1.31M tokens/doc with no
    * guard). Test doc_ids are dense small ints; a production corpus
    * with hashed 64-bit ids should key paragraphs by the (doc_id,
    * par_idx) pair instead of packing.
    */
  private[graft] def paragraphs(docs: DataFrame,
      parTokens: Int): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("ws"))
      .where(size(col("ws")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0L, (size(ws) + ${parTokens - 1}) div $parTokens - 1),
           |  i -> named_struct(
           |    'par', concat_ws(' ', slice(ws, CAST(i * $parTokens + 1 AS INT), $parTokens)),
           |    'n', size(slice(ws, CAST(i * $parTokens + 1 AS INT), $parTokens))))"""
          .stripMargin)).as(Seq("par_idx", "p")))
      .select(col("doc_id"), col("par_idx"),
        when(col("par_idx") < lit(1 << 20) &&
            col("doc_id").between(0L, (1L << 43) - 1L),
          col("doc_id") * lit(1L << 20) + col("par_idx"))
          .otherwise(raise_error(format_string(
            "paragraph pid overflow: doc_id=%d par_idx=%d exceeds the " +
              "packable domain (doc_id < 2^43, par_idx < 2^20)",
            col("doc_id"), col("par_idx")))).as("pid"),
        col("p.par").as("par"), col("p.n").as("par_toks"))

  private[graft] def paragraphAssignments(docs: DataFrame, parTokens: Int,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val pars = paragraphs(docs, parTokens)
    val asg = minhashBuckets(
        pars.select(col("pid").as("doc_id"), col("par").as("text")),
        bands, rowsPerBand)
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
      .groupBy(col("doc_id").as("pid"))
      .agg(min(col("bucket_min")).as("canonical_pid"))
    pars.join(asg, Seq("pid"))
      .withColumn("dup", col("canonical_pid") < col("pid"))
  }

  /** q332 body: the SCRUB the q329 census prices — drop every duplicate
    * paragraph occurrence (keep-first, the RefinedWeb reassembly) and
    * rebuild each document from its surviving paragraphs in original
    * order. Emitted per doc: kept/dropped paragraph counts, kept token
    * mass, and the md5 of the reassembled text (the full text would
    * bloat the golden; the hash pins the reassembly byte-exactly and
    * DedupSpec checks the actual strings on the planted docs).
    * Reassembly is whitespace-NORMALIZED by construction (paragraphs
    * were built from the token array). A doc with every paragraph
    * dropped — or null text — reassembles to the empty string.
    *
    * Scale shape: [[paragraphAssignments]] (q24's exchanges) plus one
    * per-doc aggregate whose collect_list holds ONE DOCUMENT's
    * paragraphs (bounded by doc length, the q91 chunk argument), never
    * a corpus-scale array.
    */
  def paragraphScrub(docs: DataFrame, parTokens: Int = 20,
      bands: Int = 8, rowsPerBand: Int = 8): DataFrame =
    scrubbedDocs(docs, parTokens, bands, rowsPerBand)
      .select(col("doc_id"), col("n_kept_pars"), col("n_dropped_pars"),
        col("kept_tokens"), md5(col("text")).as("scrub_md5"))
      .orderBy("doc_id")

  /** The scrubbed documents THEMSELVES — (doc_id, n_kept_pars,
    * n_dropped_pars, kept_tokens, text) with text = the kept
    * paragraphs reassembled in order (empty string when everything
    * dropped or the input text was null). q332 grades its md5; the
    * q348 curation materialization writes it.
    */
  private[graft] def scrubbedDocs(docs: DataFrame, parTokens: Int = 20,
      bands: Int = 8, rowsPerBand: Int = 8): DataFrame = {
    val perDoc = paragraphAssignments(docs, parTokens, bands, rowsPerBand)
      .groupBy("doc_id")
      .agg(
        sum(when(!col("dup"), 1L).otherwise(0L)).as("n_kept_pars"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dropped_pars"),
        sum(when(!col("dup"), col("par_toks").cast("long")).otherwise(0L))
          .as("kept_tokens"),
        expr("""concat_ws(' ', transform(
          |  array_sort(collect_list(CASE WHEN NOT dup
          |    THEN named_struct('par_idx', par_idx, 'par', par) END)),
          |  e -> e.par))""".stripMargin).as("text"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept_pars"), lit(0L)).as("n_kept_pars"),
        coalesce(col("n_dropped_pars"), lit(0L)).as("n_dropped_pars"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** q336 body: BOILERPLATE paragraph census — the exact-match
    * complement of q329's near-dup tier, and the signal behind C4's
    * "appeared more than once in the corpus" line rule at paragraph
    * granularity: a paragraph occurring verbatim in ≥ `dfBar` DISTINCT
    * documents is boilerplate (navigation, licenses, templates — the
    * mass that survives per-pair dedup because it rides inside
    * otherwise-unique pages). Per SOURCE: document count, paragraph
    * instances, boilerplate instances and their token mass — the
    * dashboard that says which ingest feed is shipping template spam.
    * Exact strings only → full SQL oracle (the DuckDB side rebuilds
    * the same fixed windows by list slicing).
    *
    * Scale shape: one paragraph-keyed exchange with partial
    * aggregation builds the df relation (paragraph-vocabulary-bounded);
    * flagged paragraphs (a tiny fraction) broadcast back onto the
    * instance stream via a semi-style join keyed on the paragraph.
    */
  def boilerplateParagraphs(docs: DataFrame, parTokens: Int = 20,
      dfBar: Int = 3): DataFrame = {
    val pars = paragraphs(
        docs.select(col("doc_id"), col("text")), parTokens)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val boiler = pars.groupBy("par")
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= dfBar)
      .select(col("par"), lit(true).as("is_boiler"))
    pars.join(broadcast(boiler), Seq("par"), "left")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_pars"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler_pars"),
        sum(when(col("is_boiler"), col("par_toks").cast("long"))
          .otherwise(0L)).as("boiler_tokens"))
      .orderBy("source")
  }

  private val boilerplateSql: String =
    """WITH m AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |p AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(
      |      generate_series(0, CAST((len(ws) + 19) // 20 - 1 AS INT)),
      |      i -> array_to_string(ws[i * 20 + 1 : i * 20 + 20], ' ')))
      |      AS par,
      |    unnest(list_transform(
      |      generate_series(0, CAST((len(ws) + 19) // 20 - 1 AS INT)),
      |      i -> len(ws[i * 20 + 1 : i * 20 + 20]))) AS par_toks
      |  FROM m WHERE len(ws) >= 1),
      |b AS (SELECT par FROM p GROUP BY par
      |  HAVING COUNT(DISTINCT doc_id) >= 3)
      |SELECT p.source,
      |  CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_pars,
      |  CAST(SUM(CASE WHEN b.par IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boiler_pars,
      |  CAST(SUM(CASE WHEN b.par IS NOT NULL THEN p.par_toks ELSE 0 END)
      |    AS BIGINT) AS boiler_tokens
      |FROM p LEFT JOIN b ON p.par = b.par
      |GROUP BY p.source ORDER BY p.source""".stripMargin

  /** q343 body: LSH BANDING-PARAMETER SWEEP — the S-curve ablation a
    * dedup deployment runs before committing to a (bands, rows) point:
    * with the 64-permutation signature FIXED (computed once,
    * checkpointed), band it as 4×16 / 8×8 / 16×4 / 32×2 and report each
    * configuration's candidate-edge count and 1-hop duplicate count.
    * More, shorter bands lower the collision threshold
    * ((1/b)^(1/r): ≈0.92, 0.77, 0.50, 0.18), so the sweep shows
    * exactly how much looser each step gets — the recall/cost dial,
    * measured instead of guessed.
    *
    * Scale shape: ONE signature pass (map-side, the q24 shape) shared
    * by all four configurations via localCheckpoint; per config, one
    * (band, bhash) bucket window and one doc-keyed aggregate — 4× the
    * exchanges of q24 on a frame 1/8th the signature cost of
    * recomputing. Engine-side xxhash64 → literal golden.
    */
  def bandingSweep(docs: DataFrame,
      configs: Seq[(Int, Int)] = Seq((4, 16), (8, 8), (16, 4), (32, 2)))
      : DataFrame = {
    require(configs.nonEmpty &&
      configs.forall { case (b, r) => b * r == 64 },
      "sweep configs must band the shared 64-permutation signature")
    val sig = minhashSignatures(docs, 64).localCheckpoint()
    configs.map { case (bands, rowsPerBand) =>
      val buckets = sig
        .select(col("doc_id"), explode(expr(
          s"""CASE WHEN sig IS NULL THEN
             |  array(named_struct('band', -1, 'bhash', doc_id))
             |ELSE transform(sequence(0, ${bands - 1}),
             |  b -> named_struct('band', b,
             |    'bhash', xxhash64(concat_ws(',', slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))))
             |END""".stripMargin)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bhash").as("bhash"))
        .withColumn("bucket_min",
          min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
      val edges = buckets.where(col("doc_id") =!= col("bucket_min"))
        .select(col("doc_id").as("a"), col("bucket_min").as("b"))
        .distinct()
      val dups = buckets.groupBy("doc_id")
        .agg(min(col("bucket_min")).as("canonical_id"))
        .where(col("canonical_id") < col("doc_id"))
      edges.agg(count(lit(1)).as("n_candidate_edges"))
        .crossJoin(dups.agg(count(lit(1)).as("n_dup_docs")))
        .select(lit(bands).as("bands"),
          lit(rowsPerBand).as("rows_per_band"),
          col("n_candidate_edges"), col("n_dup_docs"))
    }.reduce(_.unionByName(_)).orderBy("bands")
  }

  /** q340 body: SOFT-dedup effective mass — instead of DROPPING
    * near-duplicates (q24/q51's hard dedup), weight every document by
    * the inverse of its transitive cluster size (w = 1000 div |C| in
    * exact permille, the SlimPajama-style soft variant: a pair of
    * near-dups each counts half) and census per SOURCE the raw token
    * mass vs the dedup-WEIGHTED effective mass. The per-source
    * dup-discount is the number an acquisition dashboard actually
    * wants: how much UNIQUE signal does each feed contribute per raw
    * token it ships.
    *
    * effective_milli_toks = Σ_docs n_toks·1000 div |cluster(doc)| —
    * exact integers (milli-token units), so discount_permille =
    * 1000 − eff·1000 div (raw·1000) is exact too.
    *
    * Scale shape: q51's closure (log-depth rounds over star edges) +
    * one cluster-size aggregate joined back on cluster_id + one
    * per-source census. Engine-side xxhash64 → literal golden;
    * DedupSpec hand-computes the planted-source discounts.
    */
  def softDedupMass(docs: DataFrame, bands: Int = 8,
      rowsPerBand: Int = 8): DataFrame = {
    val clusters = minhashClusters(
      docs.select(col("doc_id"), col("text")), bands, rowsPerBand)
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
    val toks = docs.select(col("doc_id"), col("source"),
      expr("""CAST(size(filter(split(coalesce(text, ''), ' '),
        | t -> t <> '')) AS BIGINT)""".stripMargin).as("n_toks"))
    clusters.join(sizes, Seq("cluster_id"))
      .join(toks, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("raw_tokens"),
        sum(expr("n_toks * 1000 div csize")).as("effective_milli_toks"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("effective_milli_toks"),
        expr("""CASE WHEN raw_tokens = 0 THEN 0 ELSE
          | 1000 - effective_milli_toks div raw_tokens END"""
          .stripMargin).as("discount_permille"))
      .orderBy("source")
  }

  /** Planted multi-paragraph docs for q329 (ids above every corpus id,
    * token namespace disjoint from the corpus vocabulary): docs
    * ...101/...102 share one exact 20-token paragraph S at DIFFERENT
    * positions while the rest of their text is disjoint — document-
    * level Jaccard ~0.19, far under the q24 banding threshold, so q24
    * keeps both canonical = self (DedupSpec pins it); doc ...103
    * repeats its own first paragraph (intra-doc dup); doc ...104 is a
    * 7-token short-tail-only doc (private singleton bucket, never dup).
    */
  private[graft] def paragraphDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def par(tag: String): String =
      (1 to 20).map(i => s"pp$tag$i").mkString(" ")
    val s = par("s")
    Seq(
      (9300000101L, s"${par("a1")} $s ${par("a3")}"),
      (9300000102L, s"${par("b1")} ${par("b2")} $s"),
      (9300000103L, s"${par("c1")} ${par("c1")} ${par("c3")}"),
      (9300000104L, (1 to 7).map(i => s"ppd$i").mkString(" ")))
      .toDF("doc_id", "text")
  }

  val defs: Seq[QueryDef] = Seq(
    // Paragraph-granularity duplicate mass (RefinedWeb line-dedup
    // shape): q24's banding one level down, collapsed to a per-doc
    // census. Engine-side xxhash64 -> literal golden; planted
    // cross-doc shared paragraph + intra-doc repeat ride the corpus.
    QueryDef("q329_paragraph_dedup", literalOracle("q329_paragraph_dedup"),
      (spark, dir) => paragraphDupMass(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(paragraphDocs(spark)))),

    // Paragraph scrub: the reassembly the census prices. Same golden
    // discipline (xxhash banding), planted docs ride along; the md5
    // column pins the rebuilt text byte-exactly.
    QueryDef("q332_paragraph_scrub", literalOracle("q332_paragraph_scrub"),
      (spark, dir) => paragraphScrub(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(paragraphDocs(spark)))),

    // Banding-parameter sweep: one shared signature pass, four
    // configurations' candidate/dup counts — the dedup recall dial.
    QueryDef("q343_banding_sweep", literalOracle("q343_banding_sweep"),
      (spark, dir) => bandingSweep(t(spark, dir, "documents")
        .select(col("doc_id"), col("text")))),

    // Soft-dedup effective mass: inverse-cluster-size weights, the
    // per-source unique-signal dashboard. Clusters are engine-side
    // (xxhash banding + closure) -> literal golden.
    QueryDef("q340_soft_dedup", literalOracle("q340_soft_dedup"),
      (spark, dir) => softDedupMass(t(spark, dir, "documents"))),

    // Boilerplate paragraph census: exact-match complement of the
    // near-dup paragraph tier, per-source template-spam dashboard.
    QueryDef("q336_boilerplate_pars", Some(boilerplateSql),
      (spark, dir) => boilerplateParagraphs(t(spark, dir, "documents"))),

    // MinHash estimator calibration census over the LSH candidate set:
    // |est - true| Jaccard error bins — the dedup stack's accuracy
    // monitor. Engine-side xxhash64 -> literal golden; DedupSpec pins
    // the estimator on hand-built shingle sets (identical docs exact,
    // planted 1/3-Jaccard pair within the MinHash error envelope).
    QueryDef("q324_minhash_calibration",
      graft.util.Tables.literalOracle("q324_minhash_calibration"),
      (spark, dir) => minhashCalibration(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(CurationOps.variantDocs(spark))
        .unionByName(calibrationDocs(spark)))),

    // Exact dedup = group by full content; keep the min doc_id per group.
    QueryDef(
      "q23_dedup_exact",
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "documents")
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
          .select("keep_id", "copies")
          .orderBy("keep_id")),

    QueryDef("q24_dedup_minhash", literalOracle("q24_dedup_minhash"),
      (spark, dir) => minhashAssign(t(spark, dir, "documents"))),

    QueryDef("q25_dedup_simhash", literalOracle("q25_dedup_simhash"),
      (spark, dir) => simhashAssign(t(spark, dir, "documents"))),

    // Transitive-closure tier of q24: flat cluster ids via iterative
    // min-label propagation (deterministic -> literal golden oracle;
    // DedupSpec pins the chain case 1-hop provably under-merges).
    QueryDef("q51_dedup_clusters", literalOracle("q51_dedup_clusters"),
      (spark, dir) => minhashClusters(t(spark, dir, "documents"))),

    // Alternating-star CC over the same candidate edges: must reproduce
    // q51's clusters exactly, so it shares q51's golden — two
    // independent closure algorithms held to one output.
    QueryDef("q308_cc_star", literalOracle("q51_dedup_clusters"),
      (spark, dir) => starClusters(t(spark, dir, "documents"))),

    QueryDef("q26_ngram_jaccard", Some(ngramJaccardSql),
      (spark, dir) => ngramJaccardPairs(t(spark, dir, "documents"))),

    QueryDef("q116_repeated_windows", Some(repeatedWindowsSql),
      (spark, dir) => repeatedWindows(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(sharedSpanDocs(spark)))),

    // Exact-substring SCRUB (the cut phase Lee et al. 2022 runs on
    // q116's inventory): every later occurrence of a cross-doc repeated
    // 16-token window is removed position-wise, keep-first globally;
    // md5 pins the reassembled text byte-exactly. Full SQL oracle over
    // the same fixed windows; DedupSpec plants a shared span inside
    // otherwise-unique paragraphs that q332 provably does not scrub.
    QueryDef("q353_span_scrub", Some(spanScrubSql),
      (spark, dir) => spanScrub(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(sharedSpanDocs(spark)))),

    // Asymmetric companion to q26: containment |A∩B|/|A| instead of
    // Jaccard, catching quote/superset duplication (a short doc embedded
    // verbatim in a long one scores near-zero Jaccard but containment
    // 1.0). Same rare-shingle candidate generation; planted quote pair
    // makes the asymmetric branch non-vacuous on the synthetic corpus.
    QueryDef("q130_containment_pairs", Some(containmentSql),
      (spark, dir) => containmentPairs(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(quoteDocs(spark)))),

    // COMPLETE subquadratic Jaccard join via prefix filtering — unlike
    // q26's rare-shingle heuristic (which can miss pairs sharing only
    // common shingles), the prefix filter provably has NO false
    // negatives; DedupSpec grades equality with the brute-force
    // all-pairs join, and the planted common-span family is exactly the
    // case the rare band cannot see.
    QueryDef("q139_prefix_jaccard", Some(prefixJaccardSql),
      (spark, dir) => prefixJaccardPairs(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(commonSpanDocs(spark)))),

    // Arbitrary-length exact-substring report — the maximal-repeat
    // upgrade of q116: instead of only inventorying fixed-16-token
    // windows, chain CONSECUTIVE shared windows per doc pair into runs
    // and report each pair's longest verbatim span in tokens (a run of R
    // consecutive width-16 window matches = a shared span of R+15
    // tokens). The stronger contamination/memorization primitive: a
    // 40-token verbatim overlap reads as 40, not as "25 anonymous window
    // hashes". Planted long-span pair pins the extension beyond the
    // fixed width.
    QueryDef("q167_longest_shared_span", Some(longestSharedSpanSql),
      (spark, dir) => longestSharedSpans(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(sharedSpanDocs(spark))
        .unionByName(longSpanDocs(spark)))),

    // q167's chain lifted to two levels (intra-block islands + cross-
    // block interval merge): identical span semantics with per-frame
    // window state bounded by the block size, graded on a planted
    // 300-token memorization span both engines generate independently.
    QueryDef("q247_long_span_lifted", Some(longSpanLiftedSql),
      (spark, dir) => longestSharedSpansLifted(t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .unionByName(longSpan300Docs(spark)))))

  /** Cross-document repeated-substring inventory — the candidate phase of
    * exact substring deduplication (the suffix-array pass of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): hash every sliding WINDOW of `width`
    * consecutive tokens in every document and report the windows that
    * occur in >= 2 DISTINCT documents, i.e. the verbatim spans a
    * dedup/decontamination pass would cut. Cross-doc (not within-doc)
    * repetition is the contract: within-doc repeats are q65's
    * repetition-filter territory.
    *
    * Scale shape: the explode is row-local and linear — n-width+1 rows
    * per doc, same fan-out class as the bigram pass in
    * [[CurationOps.repetitionStats]] — and the md5 window key collapses
    * map-side (partial count + partial distinct-accumulate) before the
    * single shuffle, so what moves per distinct window is one (16-byte
    * key, counts) row, not the token stream. The HAVING >= 2-docs cut
    * bounds the output to the duplicated tail. At 100 TB this is the
    * scan-heavy-but-shuffle-light shape you want; a true suffix array
    * finds MAXIMAL repeats, which this trades for fixed-width windows in
    * exchange for full distribution.
    */
  def repeatedWindows(docs: DataFrame, width: Int = 16): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .where(size(col("l")) >= width)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(l) - ${width - 1}), " +
          s"i -> md5(array_join(slice(l, i, $width), ' ')))")).as("win_hash"))
      .groupBy(col("win_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("win_hash")
  }

  /** Planted docs sharing verbatim 16-token spans (the raw corpus has no
    * cross-doc verbatim spans, so without these the >= 2-docs cut would
    * grade vacuously): a boilerplate span shared by three docs at
    * different offsets, a license span shared by two, and a doc whose
    * only repetition is INTERNAL (same span twice within one doc) which
    * must NOT surface. Same literals in the oracle's UNION ALL.
    */
  private def sharedSpanDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val boiler = "all rights reserved unauthorized reproduction of this " +
      "document is strictly prohibited by the applicable international law" // 16 tokens
    val license = "this work is licensed under the terms of the creative " +
      "commons attribution share alike international agreement"             // 16 tokens
    Seq(
      (2000000000041L, Some(s"intro paragraph before the notice $boiler")),
      (2000000000042L, Some(s"$boiler and a trailing remark afterwards")),
      (2000000000043L, Some(s"header line then $boiler then a footer line")),
      (2000000000044L, Some(s"$license")),
      (2000000000045L, Some(s"preamble words $license closing words")),
      (2000000000046L, Some("repeat me repeat me repeat me repeat me " +
        "repeat me repeat me repeat me repeat me repeat me repeat me " +
        "repeat me repeat me repeat me repeat me repeat me repeat me"))
    ).toDF("doc_id", "text")
  }

  private def repeatedWindowsSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES
      |  (2000000000041, 'intro paragraph before the notice all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law'),
      |  (2000000000042, 'all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law and a trailing remark afterwards'),
      |  (2000000000043, 'header line then all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law then a footer line'),
      |  (2000000000044, 'this work is licensed under the terms of the creative commons attribution share alike international agreement'),
      |  (2000000000045, 'preamble words this work is licensed under the terms of the creative commons attribution share alike international agreement closing words'),
      |  (2000000000046, 'repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me')),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS l
      |        FROM all_docs WHERE text IS NOT NULL),
      |win AS (SELECT doc_id,
      |          md5(array_to_string(list_slice(l, i, i + 15), ' ')) AS win_hash
      |        FROM tok, UNNEST(range(1, len(l) - 14)) u(i)
      |        WHERE len(l) >= 16)
      |SELECT win_hash, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM win
      |GROUP BY win_hash HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY win_hash""".stripMargin

  /** q353 body: exact-substring SCRUB — the CUT phase Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") run
    * on [[repeatedWindows]]' inventory, at the same bounded window
    * width. Every occurrence of a cross-doc repeated `width`-token
    * window EXCEPT the globally first (min (doc_id, pos)) has its
    * token positions cut; overlapping windows of a longer shared span
    * union their coverage, so the whole span disappears from every
    * later copy while the first copy survives intact. Within-doc-only
    * repeats stay q65's territory (they never enter the ≥2-docs
    * candidate set), but within-doc re-occurrences OF a cross-doc span
    * collapse like any other later occurrence — Lee et al.'s global
    * keep-one semantics. This is the span-granularity refinement of
    * q332's paragraph scrub: a shared span embedded in otherwise-unique
    * paragraphs misaligns every fixed paragraph window and survives
    * q332 verbatim (DedupSpec proves it), but cannot survive here.
    *
    * Output per non-null-text doc: token counts before/cut and the md5
    * of the reassembled text (byte-exact pin, the q332 convention).
    *
    * Scale shape: the window hashes collapse map-side before one
    * shuffle (q116's argument); cut coverage is bounded by duplicated
    * mass × width and collected per-doc (an array bounded by doc
    * length, the q91 chunk argument); reassembly is ROW-LOCAL — a
    * higher-order filter over the token array against the doc's own
    * cut-position set, never a corpus-wide token explode.
    */
  def spanScrub(docs: DataFrame, width: Int = 16): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    val tok = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
    val win = tok.where(size(col("l")) >= width)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(l) - ${width - 1}), " +
          s"i -> md5(array_join(slice(l, i, $width), ' ')))"))
        .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    val firsts = win.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("n_docs") >= 2)
      .select(col("h"), col("first"))
    val cuts = win.join(firsts, Seq("h"))
      .where(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${width - 1})")).as("p"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("cut"))
    tok.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("l")).cast("long").as("n_tokens"),
        coalesce(size(col("cut")), lit(0)).cast("long").as("cut_tokens"),
        md5(expr("concat_ws(' ', filter(l, (t, i) -> " +
          "cut IS NULL OR NOT array_contains(cut, i + 1)))"))
          .as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  private def spanScrubSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES
      |  (2000000000041, 'intro paragraph before the notice all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law'),
      |  (2000000000042, 'all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law and a trailing remark afterwards'),
      |  (2000000000043, 'header line then all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law then a footer line'),
      |  (2000000000044, 'this work is licensed under the terms of the creative commons attribution share alike international agreement'),
      |  (2000000000045, 'preamble words this work is licensed under the terms of the creative commons attribution share alike international agreement closing words'),
      |  (2000000000046, 'repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me')),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS l
      |        FROM all_docs WHERE text IS NOT NULL),
      |win AS (SELECT doc_id, i AS pos,
      |          md5(array_to_string(list_slice(l, i, i + 15), ' ')) AS h
      |        FROM tok, UNNEST(range(1, len(l) - 14)) u(i)
      |        WHERE len(l) >= 16),
      |dup AS (SELECT h FROM win GROUP BY h
      |        HAVING COUNT(DISTINCT doc_id) >= 2),
      |occ AS (SELECT w.doc_id, w.pos,
      |          ROW_NUMBER() OVER (PARTITION BY w.h
      |            ORDER BY w.doc_id, w.pos) AS rk
      |        FROM win w JOIN dup USING (h)),
      |cut AS (SELECT DISTINCT doc_id, p
      |        FROM occ, UNNEST(range(pos, pos + 16)) u(p) WHERE rk > 1),
      |toks AS (SELECT doc_id, l[i] AS t, i AS p
      |         FROM tok, UNNEST(range(1, len(l) + 1)) u(i)),
      |kept AS (SELECT toks.doc_id, toks.t, toks.p
      |         FROM toks LEFT JOIN cut
      |           ON toks.doc_id = cut.doc_id AND toks.p = cut.p
      |         WHERE cut.p IS NULL),
      |scr AS (SELECT doc_id, array_to_string(list(t ORDER BY p), ' ') AS s
      |        FROM kept GROUP BY doc_id),
      |cc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cut_tokens
      |       FROM cut GROUP BY doc_id)
      |SELECT tok.doc_id, CAST(len(tok.l) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(cc.cut_tokens, 0) AS BIGINT) AS cut_tokens,
      |  md5(COALESCE(scr.s, '')) AS scrubbed_md5
      |FROM tok LEFT JOIN cc USING (doc_id) LEFT JOIN scr USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Longest shared verbatim span per doc pair (q167) — suffix-array
    * MAXIMAL repeats (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better") re-expressed as relational diagonal
    * chaining over q116's window inventory:
    *
    *   1. hash every width-16 token window with its position,
    *   2. keep windows seen in 2..64 DISTINCT docs (the df cap keeps a
    *      mega-boilerplate window from fanning into n² pairs — those
    *      windows are still fully REPORTED, as aggregates, by q116; the
    *      pair report deliberately routes them there),
    *   3. self-join on the hash (doc_a < doc_b): a match at positions
    *      (i, j) lies on diagonal d = i - j, and consecutive matches on
    *      one diagonal are one longer span — the gaps-and-islands
    *      grouping key is pos_a - row_number() per (pair, diagonal),
    *   4. a maximal run of R consecutive window matches = a shared span
    *      of R + 15 tokens.
    *
    * Scale shape: one shuffle on the window hash for the df filter +
    * join (what moves is (16-byte hash, doc, pos), never text), one
    * shuffle on the pair for the islands window — which partitions by
    * (doc_a, doc_b, diag), so no unpartitioned frame anywhere. Within a
    * (pair, diagonal) each pos_a occurs at most once (a window has one
    * hash; a second match of the same hash elsewhere in doc_b lands on a
    * different diagonal), so row_number needs no dedup guard.
    */
  /** Steps 1-3 of the q167 pipeline (window inventory, df band, pair
    * match with diagonals) — shared by the one-level chain (q167) and
    * the lifted two-level chain (q247).
    */
  private def spanMatches(docs: DataFrame, width: Int): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    val wins = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .where(size(col("l")) >= width)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(l) - ${width - 1}), " +
          s"i -> md5(array_join(slice(l, i, $width), ' ')))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("win_hash"))
    val shared = wins.groupBy("win_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd").between(2, 64)).select("win_hash")
    val cwins = wins.join(shared, "win_hash")
    cwins.as("a").join(cwins.as("b"),
        col("a.win_hash") === col("b.win_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
  }

  def longestSharedSpans(docs: DataFrame, width: Int = 16): DataFrame = {
    val wDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    spanMatches(docs, width)
      .withColumn("island", col("pos_a") - row_number().over(wDiag))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg((max(col("run_len")) + lit(width - 1)).cast("long")
          .as("longest_span_tokens"),
        count(lit(1)).as("n_runs"))
      .orderBy("doc_a", "doc_b")
  }

  /** q247 body: q167's diagonal chaining LIFTED to two levels so a
    * memorization-scale span never puts its whole length through one
    * window frame. Level 1 chains matched width-16 windows WITHIN
    * `block`-sized position blocks (per-frame state ≤ block rows,
    * whatever the span length); each intra-block run collapses to one
    * [start, end] interval. Level 2 re-chains the INTERVALS across
    * blocks with the same gaps-and-islands rule (an interval starting
    * exactly one past its predecessor's end continues the run), so a
    * span of S tokens costs O(block) frame state at level 1 plus
    * O(S / block) interval rows at level 2 — the binary-lift version of
    * the q92 two-phase-rank doctrine. The merged maximal runs are
    * BY CONSTRUCTION exactly q167's islands (positions within a
    * (pair, diagonal) are unique and consecutive inside a run), so the
    * output contract — longest span = max run + width − 1, n_runs —
    * is identical; DedupSpec asserts frame-for-frame equality with the
    * one-level chain and the oracle is the straight relational spec.
    */
  def longestSharedSpansLifted(docs: DataFrame, width: Int = 16,
      block: Int = 256): DataFrame = {
    require(block > 1, s"block must be > 1, got $block")
    val wBlock = Window.partitionBy("doc_a", "doc_b", "diag", "blk")
      .orderBy("pos_a")
    val intra = spanMatches(docs, width)
      .withColumn("blk", expr(s"pos_a div $block"))
      .withColumn("isl", col("pos_a") - row_number().over(wBlock))
      .groupBy("doc_a", "doc_b", "diag", "blk", "isl")
      .agg(min(col("pos_a")).as("start"), max(col("pos_a")).as("end"))
    val wDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("start")
    intra
      .withColumn("new_run",
        when(col("start") === lag(col("end"), 1).over(wDiag) + 1, 0L)
          .otherwise(1L))
      .withColumn("run_id", sum(col("new_run")).over(
        wDiag.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_a", "doc_b", "diag", "run_id")
      .agg((max(col("end")) - min(col("start")) + 1).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg((max(col("run_len")) + lit(width - 1)).cast("long")
          .as("longest_span_tokens"),
        count(lit(1)).as("n_runs"))
      .orderBy("doc_a", "doc_b")
  }

  /** A 300-token planted span for q247 — the memorization scale q167's
    * fixture (40 tokens) never reaches. Generated, not a literal: both
    * engines build "w1 w2 … w300" programmatically so the fixture text
    * and the oracle's are identical by construction.
    */
  private def longSpan300Docs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val span = (1 to 300).map(i => s"w$i").mkString(" ")
    Seq(
      (3000000000061L, Some(s"intro tokens here $span")),
      (3000000000062L, Some(s"other leading words entirely $span closing words"))
    ).toDF("doc_id", "text")
  }

  private def longSpanLiftedSql: String =
    """WITH sp AS (SELECT array_to_string(
      |    list_transform(generate_series(1, 300), i -> 'w' || i), ' ') AS s),
      |all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 3000000000061, 'intro tokens here ' || s FROM sp
      |  UNION ALL
      |  SELECT 3000000000062,
      |    'other leading words entirely ' || s || ' closing words' FROM sp),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS l
      |        FROM all_docs WHERE text IS NOT NULL),
      |win AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |          md5(array_to_string(list_slice(l, i, i + 15), ' ')) AS win_hash
      |        FROM tok, UNNEST(range(1, len(l) - 14)) u(i)
      |        WHERE len(l) >= 16),
      |shared AS (SELECT win_hash FROM win
      |           GROUP BY win_hash
      |           HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64),
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        a.pos AS pos_a, a.pos - b.pos AS diag
      |      FROM (SELECT * FROM win JOIN shared USING (win_hash)) a
      |      JOIN (SELECT * FROM win JOIN shared USING (win_hash)) b
      |        ON a.win_hash = b.win_hash AND a.doc_id < b.doc_id),
      |isl AS (SELECT doc_a, doc_b, diag,
      |          pos_a - row_number() OVER (
      |            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
      |        FROM m),
      |runs AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len
      |         FROM isl GROUP BY doc_a, doc_b, diag, island)
      |SELECT doc_a, doc_b,
      |  CAST(MAX(run_len) + 15 AS BIGINT) AS longest_span_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_runs
      |FROM runs GROUP BY doc_a, doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Two docs sharing a 40-token verbatim span at different offsets with
    * disjoint surroundings — the case q116's fixed-width inventory can
    * only report as 25 anonymous window hashes and q167 must read back as
    * one 40-token span. Same literals in the oracle's VALUES.
    */
  private def longSpanDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen" // 40 tokens
    Seq(
      (2000000000051L, Some(s"begin marker $span ending remark alpha0")),
      (2000000000052L, Some(s"completely different preface words here $span tail words differ"))
    ).toDF("doc_id", "text")
  }

  private def longestSharedSpanSql: String =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES
      |  (2000000000041, 'intro paragraph before the notice all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law'),
      |  (2000000000042, 'all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law and a trailing remark afterwards'),
      |  (2000000000043, 'header line then all rights reserved unauthorized reproduction of this document is strictly prohibited by the applicable international law then a footer line'),
      |  (2000000000044, 'this work is licensed under the terms of the creative commons attribution share alike international agreement'),
      |  (2000000000045, 'preamble words this work is licensed under the terms of the creative commons attribution share alike international agreement closing words'),
      |  (2000000000046, 'repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me repeat me'),
      |  (2000000000051, 'begin marker alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu one two three four five six seven eight nine ten eleven twelve thirteen fourteen ending remark alpha0'),
      |  (2000000000052, 'completely different preface words here alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu one two three four five six seven eight nine ten eleven twelve thirteen fourteen tail words differ')),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS l
      |        FROM all_docs WHERE text IS NOT NULL),
      |win AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |          md5(array_to_string(list_slice(l, i, i + 15), ' ')) AS win_hash
      |        FROM tok, UNNEST(range(1, len(l) - 14)) u(i)
      |        WHERE len(l) >= 16),
      |shared AS (SELECT win_hash FROM win
      |           GROUP BY win_hash
      |           HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64),
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        a.pos AS pos_a, a.pos - b.pos AS diag
      |      FROM (SELECT * FROM win JOIN shared USING (win_hash)) a
      |      JOIN (SELECT * FROM win JOIN shared USING (win_hash)) b
      |        ON a.win_hash = b.win_hash AND a.doc_id < b.doc_id),
      |isl AS (SELECT doc_a, doc_b, diag,
      |          pos_a - row_number() OVER (
      |            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
      |        FROM m),
      |runs AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len
      |         FROM isl GROUP BY doc_a, doc_b, diag, island)
      |SELECT doc_a, doc_b,
      |  CAST(MAX(run_len) + 15 AS BIGINT) AS longest_span_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_runs
      |FROM runs GROUP BY doc_a, doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Word-3-gram CONTAINMENT pairs: for candidate pairs sharing a rare
    * shingle (df in [2,5] — the same subquadratic candidate path as q26),
    * emit a directed (doc_sub, doc_super) row whenever at least 80% of the
    * sub side's shingle set appears in the super side's: 5*common >=
    * 4*n_sub, pure integer arithmetic, bit-identical in DuckDB. Both
    * directions of a pair are tested independently, so exact dups emit two
    * rows and a quote emits one. Scale shape identical to q26: common
    * shingles never fan out (candidates come only from the rare band), the
    * shared frames are cached because the plan is diamond-shaped, and the
    * containment test itself is row-local array arithmetic.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).cache()
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s")).cache()
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, 5)).select("s")
    val rareEx = ex.join(broadcast(rare), "s").cache()
    val cand = rareEx.as("a").join(rareEx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val base = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("common"),
        size(col("sa")).as("n_a"), size(col("sb")).as("n_b"))
    val aInB = base.where(expr("5 * common >= 4 * n_a"))
      .select(col("doc_a").as("doc_sub"), col("doc_b").as("doc_super"),
        col("common"), col("n_a").as("n_sub"), col("n_b").as("n_super"))
    val bInA = base.where(expr("5 * common >= 4 * n_b"))
      .select(col("doc_b").as("doc_sub"), col("doc_a").as("doc_super"),
        col("common"), col("n_b").as("n_sub"), col("n_a").as("n_super"))
    aInB.unionByName(bInA).orderBy("doc_sub", "doc_super")
  }

  /** Planted quote pair: doc 72 is a verbatim contiguous span of doc 71,
    * so every one of its 3-gram shingles appears in 71 (containment 1.0)
    * while Jaccard stays low (71 is much longer) — the asymmetric case
    * Jaccard-only dedup misses. The span's tokens appear nowhere else in
    * the corpus, so its shingles sit in the rare df band and the pair is
    * guaranteed to surface as a candidate. Same literals in the oracle.
    */
  private def quoteDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val host = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    Seq(
      (2000000000071L, Some(host)),
      (2000000000072L, Some("echo foxtrot golf hotel india juliet"))
    ).toDF("doc_id", "text")
  }

  // def, not val: referenced from `defs` above it (declaration-order init)
  private def containmentSql =
    """WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES
      |  (2000000000071, 'alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango'),
      |  (2000000000072, 'echo foxtrot golf hotel india juliet')),
      |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs
      |      WHERE text IS NOT NULL
      |        AND length(text) - length(replace(text, ' ', '')) + 1 >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM w, UNNEST(range(1, len(w) - 1)) t(i)),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 5),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM (SELECT * FROM sh JOIN rare USING (s)) a
      |         JOIN (SELECT * FROM sh JOIN rare USING (s)) b
      |           ON a.s = b.s AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n FROM sh GROUP BY doc_id),
      |com AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS INT) AS common
      |        FROM cand c
      |        JOIN sh x ON x.doc_id = c.doc_a
      |        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      |        GROUP BY c.doc_a, c.doc_b),
      |base AS (SELECT com.doc_a, com.doc_b, com.common,
      |           na.n AS n_a, nb.n AS n_b
      |         FROM com
      |         JOIN sizes na ON na.doc_id = com.doc_a
      |         JOIN sizes nb ON nb.doc_id = com.doc_b)
      |SELECT doc_sub, doc_super, common, n_sub, n_super FROM (
      |  SELECT doc_a AS doc_sub, doc_b AS doc_super, common,
      |    n_a AS n_sub, n_b AS n_super
      |  FROM base WHERE 5 * common >= 4 * n_a
      |  UNION ALL
      |  SELECT doc_b AS doc_sub, doc_a AS doc_super, common,
      |    n_b AS n_sub, n_a AS n_super
      |  FROM base WHERE 5 * common >= 4 * n_b)
      |ORDER BY doc_sub, doc_super""".stripMargin

  /** COMPLETE subquadratic shingle-set Jaccard join via PREFIX FILTERING
    * (the prefix-filter principle of the set-similarity-join literature,
    * re-expressed relationally). One global shingle order (document
    * frequency ASC, shingle ASC — rarest first, totally ordered); each
    * doc keeps only its first p = n − ⌈t·n⌉ + 1 shingles as candidate
    * keys. Why complete: J(A,B) ≥ t implies |A∩B| ≥ ⌈t·n_A⌉ (from
    * c ≥ t(n_A+n_B−c) ⇒ c ≥ t·n_A), so A has at most n_A − ⌈t·n_A⌉
    * shingles outside the intersection — its prefix cannot consist
    * entirely of them, so some prefix shingle of A is shared with B (and
    * symmetrically): the prefixes of any qualifying pair intersect, with
    * NO false negatives. q26's rare-band heuristic (df in [2,5]) is the
    * cheap incomplete alternative — a pair sharing only COMMON shingles
    * escapes it (planted family below proves it); this join is the exact
    * one. Scale shape: the df-ASC order concentrates prefixes on rare
    * shingles, so candidate fan-out is small exactly where volume would
    * explode; verification is q26's integer arithmetic on array sizes.
    * t = 3/10 exact: ⌈3n/10⌉ = (3n+9) div 10.
    */
  def prefixJaccardPairs(docs: DataFrame): DataFrame = {
    // every internal relation works on 8-byte xxhash64 shingle keys, not
    // ~40-byte strings: the joins, the window sort, and the verify
    // intersect all shrink ~5x. Sound because (a) completeness holds for
    // ANY global total order — (df ASC, hash ASC) is one — and (b) the
    // verified counts equal string counts absent 64-bit collisions
    // (p ~ 1e-11 at this cardinality; the DuckDB oracle recomputes with
    // strings and the hash-compare would catch a collision loudly).
    val sh = shingles(docs)
      .select(col("doc_id"),
        expr("transform(shingles, x -> xxhash64(x))").as("hs"))
      .cache()
    val ex = sh.select(col("doc_id"), explode(col("hs")).as("h")).cache()
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    val sizes = sh.select(col("doc_id"), size(col("hs")).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)
    val prefix = ex.join(dfreq, "h")
      .withColumn("pos", row_number().over(w))
      .join(sizes, "doc_id")
      .where(col("pos") <= col("n") - expr("(3 * n + 9) div 10") + lit(1))
      .select(col("doc_id"), col("h"), col("n"), col("pos"))
    // two sound prunes ride on the candidate join, both BEFORE the
    // distinct and the verify joins where candidate volume costs:
    // length filter (J >= t forces t*n_a <= c <= n_b and symmetrically)
    // and the positional filter (shingles before the matched position
    // are the only ones left to share: c <= min(n-pos) + 1)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 3 <= col("b.n") * 10 && col("b.n") * 3 <= col("a.n") * 10 &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) + 1 >=
            expr("(3 * greatest(a.n, b.n) + 9) div 10"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("common"),
        size(col("sa")).as("n_a"), size(col("sb")).as("n_b"))
      .where(expr("10 * common >= 3 * (n_a + n_b - common)"))
      .orderBy("doc_a", "doc_b")
  }

  /** Planted family whose qualifying pairs share ONLY df>5 shingles —
    * the case q26's rare band misses by construction: six filler docs
    * carry the same 16-token span (driving its shingles' df to 8), and
    * docs ...97/...98 are that span plus one unique trailing token each.
    * Same literals in the oracle's UNION ALL.
    */
  private[graft] def commonSpanDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val span = "state store compaction merges sorted runs into larger " +
      "immutable segments during background maintenance windows every night" // 16 tokens
    val fillers = (0 until 6).map(i => (2000000000091L + i, Some(span)))
    (fillers ++ Seq(
      (2000000000097L, Some(s"$span alphaq")),
      (2000000000098L, Some(s"$span betaq")))).toDF("doc_id", "text")
  }

  private def prefixJaccardSql = {
    val span = "state store compaction merges sorted runs into larger " +
      "immutable segments during background maintenance windows every night"
    val planted = ((0 until 6).map(i => s"  (${2000000000091L + i}, '$span')") ++
      Seq(s"  (2000000000097, '$span alphaq')",
        s"  (2000000000098, '$span betaq')")).mkString(",\n")
    s"""WITH all_docs(doc_id, text) AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  VALUES
      |$planted),
      |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs
      |      WHERE text IS NOT NULL
      |        AND length(text) - length(replace(text, ' ', '')) + 1 >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM w, UNNEST(range(1, len(w) - 1)) t(i)),
      |dfreq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n FROM sh GROUP BY doc_id),
      |ranked AS (SELECT t.doc_id, t.s, z.n,
      |    row_number() OVER (PARTITION BY t.doc_id
      |      ORDER BY d.df ASC, t.s ASC) AS pos
      |  FROM sh t JOIN dfreq d USING (s) JOIN sizes z USING (doc_id)),
      |prefix AS (SELECT doc_id, s FROM ranked
      |           WHERE pos <= n - ((3 * n + 9) // 10) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM prefix a JOIN prefix b
      |           ON a.s = b.s AND a.doc_id < b.doc_id),
      |com AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS INT) AS common
      |        FROM cand c
      |        JOIN sh x ON x.doc_id = c.doc_a
      |        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      |        GROUP BY c.doc_a, c.doc_b)
      |SELECT com.doc_a, com.doc_b, com.common, na.n AS n_a, nb.n AS n_b
      |FROM com
      |JOIN sizes na ON na.doc_id = com.doc_a
      |JOIN sizes nb ON nb.doc_id = com.doc_b
      |WHERE 10 * com.common >= 3 * (na.n + nb.n - com.common)
      |ORDER BY com.doc_a, com.doc_b""".stripMargin
  }
}
