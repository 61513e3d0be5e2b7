package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.util.Tables
import graft.util.Tables._

/** TAKEDOWN / right-to-be-forgotten sweep (q350) — the production
  * operation the whole lifecycle tier exists to support (VERDICT r13
  * #1): given a deletion set (doc_ids / vec_ids), propagate the delete
  * through every derived artifact the engine materializes and PROVE
  * zero residue by comparing each swept artifact against a from-scratch
  * rebuild on the surviving corpus.
  *
  * Three artifacts, three very different propagation problems:
  *
  *  1. **Curated corpus** (q348's table). Row-level delete is NOT
  *     enough: paragraph dedup is keep-first (q329/q332), so a deleted
  *     doc that was the first owner of a shared paragraph leaves every
  *     surviving near-copy scrubbed against content that no longer
  *     exists — a rebuild would KEEP those paragraphs. The sweep
  *     therefore repairs targeted docs: it stores the paragraph and
  *     band-bucket relations as PROVENANCE side tables at materialize
  *     time, finds the paragraphs whose keep-first verdict flips
  *     (candidates = surviving members of buckets that lost a deleted
  *     paragraph — bounded by the deletion set's bucket memberships,
  *     never the corpus), reassembles and re-gates ONLY the owning
  *     docs, and rewrites. No text is ever re-shingled or re-hashed:
  *     at 100 TB the sweep touches provenance columns and the affected
  *     docs' stored paragraphs, not the corpus.
  *
  *  2. **Dedup cluster map** (q51's closure). Removing a node can
  *     SPLIT a component (the deleted doc may be the only bridge
  *     between two near-dup groups), so dropping its rows leaves
  *     surviving members labeled by a cluster id that may be the
  *     deleted doc's own id — residue — or merged when they should
  *     split. The sweep relabels ONLY affected components: co-bucket
  *     membership implies co-component, so the stored bucket relation
  *     restricted to the affected components' surviving members is a
  *     complete edge source, and the alternating-star closure
  *     ([[DedupOps.starComponentsWithRounds]]) over that (tiny)
  *     subgraph reproduces exactly what a full rebuild would say.
  *
  *  3. **Stored ANN index** (q326's tables). Quantizers are frozen
  *     (the q330 append doctrine), so the encode is per-vector
  *     independent and a row-level delete + canonical-layout rewrite
  *     ([[AnnIndexOps.takedownIndex]]) is EXACTLY a rebuild on the
  *     survivors — which the sweep proves by re-encoding the surviving
  *     corpus against the same frozen quantizers
  *     ([[AnnIndexOps.rebuildWithFrozen]]) and comparing both the
  *     tables and the served top-k.
  *
  * The graded output is one row per artifact:
  * (artifact, n_before, n_deleted, n_after, n_residue, matches_rebuild)
  * where n_residue counts rows still referencing a deleted id across
  * the artifact and its provenance tables (must be 0) and
  * matches_rebuild is 1 iff the swept state is row-identical (exceptAll
  * both ways) to the from-scratch rebuild on survivors. Deterministic
  * (seeded hash families + frozen fits) → literal golden; TakedownSpec
  * pins the semantics on planted flip / split / serve cases.
  */
object TakedownOps {

  private def saveTable(df: DataFrame, tbl: String,
      partitionCols: Seq[String] = Nil): Unit = {
    // NOTE (guide §6, measured r18): no explicit clustering shuffle
    // before the partitioned write — AQE's coalescing already caps the
    // pre-write stage at a handful of tasks at bench scale (measured 32
    // files for 16 pb dirs), and an added repartition(pb) exchange per
    // write measurably REGRESSED the maintain band (~+10-20%/query).
    // At 100 TB a deployment would add a REBALANCE-by-partition-column
    // hint before these writes; locally the exchange costs more than
    // the files it saves.
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(tbl)
  }

  // ------------------------------------------------------------------
  // Surgical bucket-partitioned maintenance writes (VERDICT r16 #3/#5)
  // ------------------------------------------------------------------

  /** Bucket count of every doc-keyed maintained relation: each is
    * partitioned by `pmod(key, DocBuckets)`, so a maintenance batch
    * rewrites a few bucket directories instead of the relation. A
    * constant, not a setting: the layout of a stored table must not
    * depend on a conf read at maintenance time. 16 suits the bench
    * scale factors; a deployment at 100 TB would want a bucket of a few
    * GB (about 4096) and a rebuild to change it.
    */
  private val DocBuckets = 16

  /** pmod-of-key partition column. The names (pb/qb/sb/cb) are
    * reserved: graded readers all select explicit columns, so the extra
    * column never reaches an output.
    */
  private def withPb(df: DataFrame, keyCol: String): DataFrame =
    withPart(df, col(keyCol), "pb")

  private def withPart(df: DataFrame, key: Column, name: String): DataFrame =
    df.withColumn(name, pmod(key, lit(DocBuckets.toLong)).cast("int"))

  /** Deterministic partition key for the signature-keyed media cluster
    * relation (its rows carry no id column — groups are keyed by the
    * fingerprint itself).
    */
  private def sigPart: Column = xxhash64(sigCols.map(col): _*)

  /** The distinct pb values of a (small, localCheckpointed) id frame —
    * driver metadata bounded by the table's bucket count, the
    * probed-cell-list convention.
    */
  private def bucketsOf(ids: DataFrame, keyCol: String): Seq[Int] =
    bucketsOfKey(ids, col(keyCol))

  private def bucketsOfKey(ids: DataFrame, key: Column): Seq[Int] =
    ids.select(pmod(key, lit(DocBuckets.toLong)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** The ids of `ids` (a `doc_id` frame rooted on `spark`) still present
    * in the pb-partitioned relation `tbl`, materialized and re-rooted on
    * `spark`, with their count: the probe reads only the batch ids' pb
    * partitions (driver metadata bounded by the bucket count), never the
    * whole relation. The streamed takedowns' idempotency gate: a
    * redelivered batch drains to nothing here. */
  private[graft] def presentIds(spark: SparkSession, ids: DataFrame,
      tbl: String): (DataFrame, Long) = {
    val t = spark.table(tbl)
    require(t.columns.contains("pb"), s"$tbl has no pb partition column: " +
      "it was not materialized by this code; rebuild it")
    val pbs = bucketsOf(ids, "doc_id")
    GraftBridge.checkpointOn(spark,
      ids.join(t.where(col("pb").isin(pbs: _*)), Seq("doc_id"), "left_semi"))
  }

  /** Row-identical set equality (multiplicity-aware, order-free).
    * Equal counts + one empty bag-difference imply equality, so the
    * second exceptAll pass is replaced by a cheap count.
    */
  private def eqSets(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty

  /** Component-local maintenance broadcasts its affected-id sets
    * because near-dup components are SMALL — but a pathological
    * boilerplate mega-component (every doc sharing one band bucket)
    * makes affMembers corpus-sized, and a forced broadcast hint then
    * OOMs the driver instead of degrading. The hint is applied only
    * under a row bound (conf `spark.graft.maintenance.broadcastMaxRows`,
    * default 1M ids ≈ 10s of MB); above it the frame joins unhinted and
    * AQE picks a shuffle strategy — slower, alive, still exact
    * (VERDICT r15 #7). Callers pass localCheckpointed frames, so the
    * guard count is a cached-scan, not a recompute.
    */
  private def broadcastIfSmall(spark: SparkSession,
      df: DataFrame): DataFrame = {
    val maxRows = spark.conf
      .get("spark.graft.maintenance.broadcastMaxRows", "1000000").toLong
    if (df.count() <= maxRows) broadcast(df) else df
  }

  /** q348's census collected as a set — census equality is a
    * sufficient (and text-shuffle-free) rebuild-identity check for the
    * curated table; the expression is [[CurationOps.curatedCensusOf]],
    * the SAME one q348's golden grades.
    */
  private def curatedCensus(df: DataFrame): Set[(String, Long, Long, Long)] =
    CurationOps.curatedCensusOf(df)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  // ------------------------------------------------------------------
  // Curated corpus with provenance
  // ------------------------------------------------------------------

  final case class CuratedTables(curated: String, pars: String,
      buckets: String)

  def curatedTables(prefix: String): CuratedTables = CuratedTables(
    s"${prefix}_curated", s"${prefix}_pars", s"${prefix}_buckets")

  /** The q332 keep-first verdicts derived from a (pid, band, bhash)
    * bucket relation — the same arithmetic as
    * [[DedupOps.paragraphAssignments]], but factored over buckets so
    * the takedown can re-derive verdicts from STORED provenance.
    */
  private def verdictsFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .withColumn("bucket_min",
        min(col("pid")).over(Window.partitionBy("band", "bhash")))
      .groupBy("pid")
      .agg(min(col("bucket_min")).as("canonical_pid"))

  /** Scrubbed text + gate from a verdict-carrying paragraph relation —
    * the [[DedupOps.scrubbedDocs]] reassembly + q348's gate, emitting
    * the curated rows (doc_id, lang, text, n_toks). Docs whose every
    * paragraph is dropped (or with no paragraphs at all) reassemble to
    * "" and are gated out, matching q348's left-join-then-gate path.
    */
  private def curatedFromPars(pars: DataFrame, docs: DataFrame): DataFrame = {
    val scrub = pars.groupBy("doc_id")
      .agg(expr("""concat_ws(' ', transform(
        |  array_sort(collect_list(CASE WHEN NOT dup
        |    THEN named_struct('par_idx', par_idx, 'par', par) END)),
        |  e -> e.par))""".stripMargin).as("text"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val gate = graft.streaming.StreamingCurationGate.gateFrame(
      scrub.select(col("doc_id"), col("lang"), col("text")))
    scrub.join(
        gate.where(!col("gated")).select(col("doc_id"), col("n_toks")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
  }

  /** The paragraph + bucket provenance of a corpus — what
    * [[curatedMaterializeWithProvenance]] persists and the takedown
    * consumes. Pars carry their keep-first verdict.
    */
  private def parsAndBuckets(docs: DataFrame,
      parTokens: Int = 20): (DataFrame, DataFrame) = {
    val pars = DedupOps.paragraphs(
      docs.select(col("doc_id"), col("text")), parTokens)
    val buckets = DedupOps.minhashBuckets(
        pars.select(col("pid").as("doc_id"), col("par").as("text")), 8, 8)
      .select(col("doc_id").as("pid"), col("band"), col("bhash"))
    val parsV = pars.join(verdictsFromBuckets(buckets), Seq("pid"))
      .withColumn("dup", col("canonical_pid") < col("pid"))
      .select(col("doc_id"), col("par_idx"), col("pid"), col("par"),
        col("par_toks"), col("dup"))
    (parsV, buckets)
  }

  /** q348's materialization, plus the provenance side tables that make
    * a later takedown O(deletion), not O(corpus): the paragraph
    * relation with verdicts and the paragraph band-bucket relation.
    * The curated rows are byte-identical to
    * [[CurationOps.curatedMaterialize]]'s (TakedownSpec pins it).
    */
  def curatedMaterializeWithProvenance(spark: SparkSession,
      docs: DataFrame, prefix: String): CuratedTables = {
    val tn = curatedTables(prefix)
    // checkpointed: the paragraph explode over the whole corpus is
    // consumed TWICE (the buckets write's minhash lineage AND the parsV
    // write) — without the cut the corpus-scale paragraphs pass ran
    // twice per materialize (guide §1.2: don't compute things twice).
    // At 100 TB a deployment stages this to durable storage; the
    // eventual home of these rows is the pars table itself.
    val pars = DedupOps.paragraphs(
      docs.select(col("doc_id"), col("text")), 20)
      .localCheckpoint(true)
    val buckets = DedupOps.minhashBuckets(
        pars.select(col("pid").as("doc_id"), col("par").as("text")), 8, 8)
      .select(col("doc_id").as("pid"), col("band"), col("bhash"))
    Seq(tn.curated, tn.pars, tn.buckets).foreach(dropTable(spark, _))
    // buckets land first so the verdict derivation (and everything
    // after) reads the STORED relation instead of re-running the
    // minhash lineage. All three relations are bucket-partitioned
    // (VERDICT r16 #5): pars/curated by doc, buckets by pid — a later
    // takedown/append rewrites only affected directories
    saveTable(withPart(buckets, col("pid"), "qb"), tn.buckets,
      Seq("qb"))
    val parsV = pars
      .join(verdictsFromBuckets(spark.table(tn.buckets)), Seq("pid"))
      .withColumn("dup", col("canonical_pid") < col("pid"))
      .select(col("doc_id"), col("par_idx"), col("pid"), col("par"),
        col("par_toks"), col("dup"))
    saveTable(withPb(parsV, "doc_id"), tn.pars, Seq("pb"))
    pinMaxDocId(spark, tn.pars, maxDocId(spark.table(tn.pars)))
    saveTable(
      withPart(curatedFromPars(spark.table(tn.pars), docs),
        col("doc_id"), "cb"),
      tn.curated, Seq("cb"))
    tn
  }

  /** Curated-corpus takedown: delete the docs' rows everywhere AND
    * repair the keep-first collateral. A verdict can only flip
    * dup→kept (removing paragraphs only raises bucket minima), and only
    * for paragraphs sharing a bucket with a deleted paragraph — so the
    * sweep recomputes verdicts for exactly those candidates from the
    * stored bucket relation, reassembles the owning docs from their
    * STORED paragraphs (no re-shingling), re-gates them, and rewrites
    * the three tables.
    */
  def takedownCurated(spark: SparkSession, docs: DataFrame,
      deletedDocs: DataFrame, prefix: String): Unit = {
    val tn = curatedTables(prefix)
    val del = broadcast(deletedDocs.select(col("doc_id")).distinct()
      .localCheckpoint(true))
    val parsT = spark.table(tn.pars)
    val bucketsT = spark.table(tn.buckets)
    // paragraphs owned by deleted docs, and the buckets that lose them
    val deletedPids = broadcast(parsT.join(del, Seq("doc_id"))
      .select(col("pid")).localCheckpoint(true))
    val affectedKeys = bucketsT.join(deletedPids, Seq("pid"))
      .select(col("band"), col("bhash")).distinct()
    // candidates: surviving members of affected buckets — the only
    // paragraphs whose keep-first verdict can change
    val candPids = broadcast(
      bucketsT.join(broadcast(affectedKeys), Seq("band", "bhash"))
        .join(deletedPids, Seq("pid"), "left_anti")
        .select(col("pid")).distinct().localCheckpoint(true))
    // recompute the candidates' canonicals over SURVIVING paragraphs:
    // every bucket a candidate belongs to, min'd over surviving members
    val candBuckets = bucketsT.join(candPids, Seq("pid"))
    val touchedKeys = broadcast(
      candBuckets.select(col("band"), col("bhash")).distinct())
    val newMins = bucketsT.join(touchedKeys, Seq("band", "bhash"))
      .join(deletedPids, Seq("pid"), "left_anti")
      .groupBy("band", "bhash").agg(min(col("pid")).as("bmin"))
    val newVerdicts = candBuckets.join(newMins, Seq("band", "bhash"))
      .groupBy("pid").agg(min(col("bmin")).as("canonical_pid"))
      .withColumn("new_dup", col("canonical_pid") < col("pid"))
      .select(col("pid"), col("new_dup"))
    // flipped paragraphs -> affected docs (owners needing re-assembly);
    // candidate owners bound the pars rewrite (a candidate whose verdict
    // stands still lives in a rewritten bucket — harmless, bounded)
    val affectedDocs = broadcast(parsT
      .join(newVerdicts, Seq("pid"))
      .where(col("dup") =!= col("new_dup"))
      .select(col("doc_id")).distinct().localCheckpoint(true))
    val candDocs = broadcast(parsT.join(candPids, Seq("pid"))
      .select(col("doc_id")).distinct().localCheckpoint(true))
    // surgical rewrites (VERDICT r16 #5): pars — buckets of deleted +
    // candidate-owner docs; buckets — deleted pids' partitions;
    // curated — deleted + repaired docs' partitions. Untouched
    // directories' files never move.
    val prB = bucketsOf(del.unionByName(candDocs.select(col("doc_id"))),
      "doc_id")
    Tables.replacePartitions(spark, tn.pars, "pb", prB,
      parsT.where(col("pb").isin(prB: _*))
        .join(del, Seq("doc_id"), "left_anti")
        .join(newVerdicts, Seq("pid"), "left")
        .withColumn("dup", coalesce(col("new_dup"), col("dup")))
        .drop("new_dup"))
    val bkB = bucketsOfKey(deletedPids, col("pid"))
    Tables.replacePartitions(spark, tn.buckets, "qb", bkB,
      bucketsT.where(col("qb").isin(bkB: _*))
        .join(deletedPids, Seq("pid"), "left_anti"))
    // curated repair: drop deleted + affected docs' old rows, insert
    // the affected docs' reassembled + re-gated rows (a previously
    // gated-out doc can re-enter when it regains paragraphs)
    val repaired = curatedFromPars(
      spark.table(tn.pars).join(affectedDocs, Seq("doc_id")), docs)
    val cuB = bucketsOf(
      del.unionByName(affectedDocs.select(col("doc_id"))), "doc_id")
    val keptIn = spark.table(tn.curated).where(col("cb").isin(cuB: _*))
      .join(del, Seq("doc_id"), "left_anti")
      .join(affectedDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    Tables.replacePartitions(spark, tn.curated, "cb", cuB,
      withPart(keptIn.unionByName(repaired), col("doc_id"), "cb"))
  }

  /** q355 body: INCREMENTAL curated-corpus maintenance — the daily-
    * ingest shape (q73's doctrine) applied to q348's materialization:
    * a new doc batch is scrubbed against the STORED paragraph-bucket
    * provenance instead of re-banding the corpus, gated, and appended.
    *
    * Keep-first stays globally exact under the append contract (new
    * doc_ids strictly above every stored one — enforced, because an
    * interleaved id could retroactively flip an existing verdict): a
    * new paragraph is dup iff any of its buckets holds a smaller pid,
    * and the smaller pid is either stored (one pruned join against the
    * stored bucket relation, keyed by the BATCH's bucket keys) or in
    * the batch itself. Existing minima can only stand, so no stored
    * row is ever touched — append is O(batch), exactly
    * [[AnnIndexOps.appendToIndex]]'s frozen-state argument, and the
    * grown table is byte-identical to a from-scratch materialization
    * of the full corpus, which is why q355 grades its readback census
    * against q348's OWN golden (the q330/q351 shared-golden doctrine).
    */
  def appendToCurated(spark: SparkSession, newDocs: DataFrame,
      prefix: String): Unit = {
    val tn = curatedTables(prefix)
    val parsN = DedupOps.paragraphs(
        newDocs.select(col("doc_id"), col("text")), 20)
      .localCheckpoint(true)
    if (parsN.isEmpty) return
    val bucketsN = DedupOps.minhashBuckets(
        parsN.select(col("pid").as("doc_id"), col("par").as("text")), 8, 8)
      .select(col("doc_id").as("pid"), col("band"), col("bhash"))
      .localCheckpoint(true)
    // the append contract: batch docs strictly above every stored doc,
    // the pinned watermark property (O(1) catalog metadata)
    val maxOld = pinnedMaxDocId(spark, tn.pars)
    val newStats = parsN.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val minNew = newStats.getLong(0)
    require(minNew > maxOld,
      s"appendToCurated: batch doc_id $minNew interleaves the stored " +
        s"corpus (max stored doc_id $maxOld) — an interleaved id " +
        "could retroactively flip a stored keep-first verdict; rebuild " +
        "instead")
    // combined bucket minima over exactly the batch's bucket keys: the
    // stored side is one key-pruned aggregate, never a corpus scan
    val newMins = bucketsN.groupBy("band", "bhash")
      .agg(min(col("pid")).as("nmin"))
    val oldMins = spark.table(tn.buckets)
      .join(broadcast(bucketsN.select(col("band"), col("bhash")).distinct()),
        Seq("band", "bhash"))
      .groupBy("band", "bhash").agg(min(col("pid")).as("omin"))
    val verdicts = bucketsN
      .join(newMins, Seq("band", "bhash"))
      .join(oldMins, Seq("band", "bhash"), "left")
      .withColumn("bmin", least(coalesce(col("omin"), col("nmin")),
        col("nmin")))
      .groupBy("pid").agg(min(col("bmin")).as("canonical_pid"))
    val parsV = parsN.join(verdicts, Seq("pid"))
      .withColumn("dup", col("canonical_pid") < col("pid"))
      .select(col("doc_id"), col("par_idx"), col("pid"), col("par"),
        col("par_toks"), col("dup"))
      .localCheckpoint(true)
    // pure appends: new files land only in the batch's partition
    // directories; stored rows never move. insertInto is positional:
    // align to the table's column order (partition column last)
    withPb(parsV, "doc_id")
      .select(spark.table(tn.pars).columns.map(col): _*)
      .write.mode(SaveMode.Append).insertInto(tn.pars)
    pinMaxDocId(spark, tn.pars, newStats.getLong(1))
    withPart(bucketsN, col("pid"), "qb")
      .select(spark.table(tn.buckets).columns.map(col): _*)
      .write.mode(SaveMode.Append).insertInto(tn.buckets)
    withPart(curatedFromPars(parsV, newDocs), col("doc_id"), "cb")
      .select(spark.table(tn.curated).columns.map(col): _*)
      .write.mode(SaveMode.Append).insertInto(tn.curated)
  }

  // ------------------------------------------------------------------
  // Dedup cluster map with provenance
  // ------------------------------------------------------------------

  final case class ClusterTables(clusters: String, dbuckets: String)

  def clusterTables(prefix: String): ClusterTables =
    ClusterTables(s"${prefix}_clusters", s"${prefix}_dbuckets")

  /** Star edges of the doc-level bucket graph — the
    * [[DedupOps.minhashEdges]] derivation factored over a stored
    * (doc_id, band, bhash) relation.
    */
  private def edgesFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
      .where(col("doc_id") =!= col("bucket_min"))
      .select(col("doc_id").as("a"), col("bucket_min").as("b"))
      .distinct()

  private def labelsToClusters(docs: DataFrame,
      labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("is_dup", (col("cluster_id") < col("doc_id")).cast("int"))

  /** q51's cluster map materialized WITH its bucket provenance — the
    * form that makes cluster takedown component-local. The labels are
    * byte-identical to [[DedupOps.starClusters]]'s (TakedownSpec pins
    * it).
    */
  def clustersMaterializeWithProvenance(spark: SparkSession,
      docs: DataFrame, prefix: String): ClusterTables = {
    val tn = clusterTables(prefix)
    val buckets = DedupOps.minhashBuckets(
      docs.select(col("doc_id"), col("text")), 8, 8)
    Seq(tn.clusters, tn.dbuckets).foreach(dropTable(spark, _))
    // pb-partitioned layout (VERDICT r16 #3): maintenance batches then
    // rewrite only the partition directories holding affected docs'
    // rows instead of the whole relation — see
    // [[graft.util.Tables.replacePartitions]]
    saveTable(withPb(buckets, "doc_id"), tn.dbuckets, Seq("pb"))
    val (labels, _) = DedupOps.starComponentsWithRounds(
      edgesFromBuckets(spark.table(tn.dbuckets)))
    saveTable(withPb(labelsToClusters(docs, labels), "doc_id"),
      tn.clusters, Seq("pb"))
    pinMaxDocId(spark, tn.clusters, maxDocId(docs))
    tn
  }

  /** Cluster-map takedown: relabel ONLY the components that contained a
    * deleted doc. Co-bucket membership implies co-component, so the
    * stored bucket relation restricted to those components' surviving
    * members is a complete edge source for the re-closure; every other
    * component's labels are untouched (their minima survive by
    * construction). Handles splits (deleted bridge doc) and label
    * migration (deleted doc WAS the component minimum) identically to
    * a full rebuild.
    */
  def takedownClusters(spark: SparkSession, deletedDocs: DataFrame,
      prefix: String): Unit = {
    val tn = clusterTables(prefix)
    val del = broadcast(deletedDocs.select(col("doc_id")).distinct()
      .localCheckpoint(true))
    val clustersT = spark.table(tn.clusters)
    val bucketsT = spark.table(tn.dbuckets)
    val affComps = broadcastIfSmall(spark, clustersT.join(del, Seq("doc_id"))
      .select(col("cluster_id")).distinct().localCheckpoint(true))
    val affMembers = broadcastIfSmall(spark,
      clustersT.join(affComps, Seq("cluster_id"))
      .join(del, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).localCheckpoint(true))
    // edge source: the affected members' stored bucket rows. affMembers
    // already excludes the deleted docs, so the join restricts to
    // surviving rows by itself — the old full-relation anti-join +
    // checkpoint (an O(corpus) pass per deletion batch) is gone
    val subEdges = edgesFromBuckets(bucketsT.join(affMembers, Seq("doc_id"))
      .select(col("doc_id"), col("band"), col("bhash")))
    val (labels, _) = DedupOps.starComponentsWithRounds(subEdges)
    val relabeled = labelsToClusters(affMembers, labels)
    // surgical rewrite of ONLY the buckets holding changed rows
    // (VERDICT r16 #3): clusters — buckets of deleted + relabeled docs;
    // dbuckets — buckets of deleted docs. Untouched directories' files
    // never move (TakedownSpec pins the immobility).
    val clB = bucketsOf(del.unionByName(affMembers.select(col("doc_id"))),
      "doc_id")
    val keptIn = clustersT.where(col("pb").isin(clB: _*))
      .join(affComps, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
    Tables.replacePartitions(spark, tn.clusters, "pb", clB,
      withPb(keptIn.unionByName(relabeled), "doc_id"))
    val delB = bucketsOf(del, "doc_id")
    Tables.replacePartitions(spark, tn.dbuckets, "pb", delB,
      bucketsT.where(col("pb").isin(delB: _*))
        .join(del, Seq("doc_id"), "left_anti"))
  }

  /** q360 body's engine: INCREMENTAL cluster-map maintenance — the last
    * open cell of the artifact-maintenance matrix (VERDICT r14 #1).
    * Merge an arriving doc batch into the STORED cluster map without a
    * full re-closure: band the batch, find the stored components its
    * bucket keys touch, and re-close ONLY the affected subgraph — the
    * exact mirror of [[takedownClusters]]'s component-local argument,
    * with merges where the takedown has splits (one batch doc can
    * BRIDGE two stored components; the re-closure relabels both to the
    * union's minimum, exactly what a full rebuild would say).
    *
    * Why component-local re-closure is EXACT: co-bucket membership
    * implies co-component, so every bucket key is owned entirely by one
    * stored component. A bucket either contains a batch doc — then its
    * stored members' components are "touched" by definition — or it
    * doesn't, and its edges (hence its component's labels, which are
    * component minima) cannot change. Restricting the union bucket
    * relation (stored ∪ batch) to touched components' members plus the
    * whole batch therefore includes every bucket whose minimum could
    * move, with ALL of each included bucket's members — the restricted
    * bucket minima, and so the re-closed labels, equal the full
    * rebuild's. Batch docs colliding only with each other form their
    * new components inside the same pass; isolated batch docs label
    * self via the coalesce.
    *
    * The strictly-above id contract mirrors [[appendToCurated]]'s: it
    * is what guarantees batch ids are globally FRESH (a duplicated
    * doc_id would silently fuse two distinct documents' bucket rows).
    * Unlike the curated append, label correctness itself does not need
    * the ordering — labels are recomputed minima, not kept-first
    * verdicts — so the guard is purely the uniqueness contract.
    *
    * Scale shape: O(batch + affected components), never O(corpus) — one
    * key-pruned join against the stored bucket relation (keyed by the
    * BATCH's bucket keys), two broadcast-sized id sets (touched
    * components, their members), and a star closure over the affected
    * subgraph only. The stored bucket relation is appended, untouched
    * rows' labels are carried over verbatim.
    */
  def appendToClusters(spark: SparkSession, newDocs: DataFrame,
      prefix: String): Unit = {
    val tn = clusterTables(prefix)
    val bucketsN = DedupOps.minhashBuckets(
        newDocs.select(col("doc_id"), col("text")), 8, 8)
      .localCheckpoint(true)
    if (bucketsN.isEmpty) return
    val clustersT = spark.table(tn.clusters)
    val bucketsT = spark.table(tn.dbuckets)
    // the freshness contract: batch ids strictly above every stored id,
    // the pinned watermark property (O(1) catalog metadata)
    val maxOld = pinnedMaxDocId(spark, tn.clusters)
    val newStats = newDocs.agg(min(col("doc_id")), count(col("doc_id")),
      countDistinct(col("doc_id")), max(col("doc_id"))).head()
    val minNew = newStats.getLong(0)
    require(minNew > maxOld,
      s"appendToClusters: batch doc_id $minNew interleaves the stored " +
        s"corpus (max stored doc_id $maxOld) — ids must " +
        "be globally fresh or the bucket relation fuses distinct docs")
    // a duplicate WITHIN the batch passes the ordering check but fuses
    // two documents' bucket rows just the same (ADVICE r15)
    require(newStats.getLong(1) == newStats.getLong(2),
      s"appendToClusters: batch carries duplicated doc_ids " +
        s"(${newStats.getLong(1)} rows, ${newStats.getLong(2)} distinct) " +
        "— a duplicated doc_id fuses distinct docs' bucket rows")
    // stored components touched by the batch: one join pruned by the
    // batch's (band, bhash) keys — never a corpus scan
    val batchKeys = broadcast(
      bucketsN.select(col("band"), col("bhash")).distinct())
    val touched = bucketsT.join(batchKeys, Seq("band", "bhash"))
      .select(col("doc_id")).distinct()
    val affComps = broadcastIfSmall(spark,
      clustersT.join(touched, Seq("doc_id"))
      .select(col("cluster_id")).distinct().localCheckpoint(true))
    val affMembers = broadcastIfSmall(spark,
      clustersT.join(affComps, Seq("cluster_id"))
      .select(col("doc_id")).localCheckpoint(true))
    // complete edge source for the affected subgraph: the affected
    // members' stored buckets ∪ the batch's buckets
    val subBuckets = bucketsT.join(affMembers, Seq("doc_id"))
      .select(col("doc_id"), col("band"), col("bhash"))
      .unionByName(bucketsN.select(col("doc_id"), col("band"), col("bhash")))
    val (labels, _) =
      DedupOps.starComponentsWithRounds(edgesFromBuckets(subBuckets))
    val relabeled = labelsToClusters(
      affMembers.unionByName(newDocs.select(col("doc_id"))), labels)
    // dbuckets: a pure append — new files land only in the batch's pb
    // directories, stored rows never move
    withPb(bucketsN, "doc_id")
      .select(spark.table(tn.dbuckets).columns.map(col): _*)
      .write.mode(SaveMode.Append).format("parquet")
      .insertInto(tn.dbuckets)
    // clusters: surgical rewrite of only the buckets holding relabeled
    // or batch docs (VERDICT r16 #3)
    val clB = bucketsOf(
      affMembers.select(col("doc_id"))
        .unionByName(newDocs.select(col("doc_id"))).localCheckpoint(true),
      "doc_id")
    val keptIn = clustersT.where(col("pb").isin(clB: _*))
      .join(affComps, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
    Tables.replacePartitions(spark, tn.clusters, "pb", clB,
      withPb(keptIn.unionByName(relabeled), "doc_id"))
    pinMaxDocId(spark, tn.clusters, newStats.getLong(3))
  }

  /** q372 body: the cluster-map LIFECYCLE COMPOSED — q357's doctrine on
    * the dedup tier: materialize the base closure, merge the id-ordered
    * tail incrementally (q360), take down a deletion set spanning BOTH
    * slices (q350), and grade the composed state against a from-scratch
    * closure on the survivors. q360 proves merge == rebuild and q350
    * proves takedown == rebuild, but the composition exercises the
    * cross-term: the takedown's component-local relabel must walk
    * bucket rows the MERGE wrote (a deleted base doc can split a
    * component the merge created, or hand its label to an appended
    * doc). Output: a per-tier census (is_dup, doc counts, distinct
    * clusters) with a matches_rebuild flag from multiplicity-aware set
    * equality of the full label relations.
    */
  def clusterLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    clustersMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_clc")
    appendToClusters(spark, docs.where(col("doc_id") > cut), "graft_clc")
    val delDocs = docs.where(col("doc_id") % 13 === 0).select(col("doc_id"))
    takedownClusters(spark, delDocs, "graft_clc")
    val swept = spark.table("graft_clc_clusters")
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
      .localCheckpoint(true)
    val rebuild = DedupOps.starClusters(docs.where(col("doc_id") % 13 =!= 0))
      .select(col("doc_id"), col("cluster_id"), col("is_dup"))
    val matches = if (eqSets(swept, rebuild)) 1 else 0
    swept.groupBy("is_dup")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .withColumn("matches_rebuild", lit(matches))
      .orderBy("is_dup")
  }

  // ------------------------------------------------------------------
  // Media fingerprint artifacts (q293's tier) with takedown
  // ------------------------------------------------------------------

  final case class MediaTables(keyed: String, sigs: String,
      clusters: String)

  def mediaTables(prefix: String): MediaTables = MediaTables(
    s"${prefix}_mkeyed", s"${prefix}_msigs", s"${prefix}_mclusters")

  private def mediaKeyed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), (col("doc_id") % 97).as("media_key"))

  private def mediaSigs(spark: SparkSession, keyed: DataFrame): DataFrame =
    MultimodalOps.thumbnailFeatures(spark,
        MultimodalOps.patternImageTable(
          keyed.select(col("media_key").as("doc_id")).distinct()))
      .toDF()
      .select(col("doc_id").as("media_key"), col("format"),
        col("width"), col("height"), col("resized_sum"))

  private val sigCols = Seq("format", "width", "height", "resized_sum")

  private def mediaClusters(keyed: DataFrame, sigs: DataFrame): DataFrame =
    keyed.join(sigs, Seq("media_key"))
      .groupBy(sigCols.map(col): _*)
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_members"))
      .where(col("n_members") >= 2)

  /** q293's media-dedup tier MATERIALIZED — the ownership relation
    * (doc → media key), the per-distinct-payload fingerprint table
    * (the decode runs once per payload, the q293 amortization made
    * durable), and the exact-dedup cluster relation. The stored form a
    * media lake serves re-upload lookups from — and the form a takedown
    * must reach (VERDICT r14 #8).
    */
  def mediaMaterialize(spark: SparkSession, docs: DataFrame,
      prefix: String): MediaTables = {
    val tn = mediaTables(prefix)
    Seq(tn.keyed, tn.sigs, tn.clusters).foreach(dropTable(spark, _))
    // bucket-partitioned layout (VERDICT r16 #5): ownership by doc_id,
    // fingerprints by media_key, clusters by signature hash — so the
    // maintenance paths rewrite only affected directories
    saveTable(withPb(mediaKeyed(docs), "doc_id"), tn.keyed, Seq("pb"))
    pinMaxDocId(spark, tn.keyed, maxDocId(docs))
    saveTable(withPart(mediaSigs(spark, spark.table(tn.keyed)),
      col("media_key"), "sb"), tn.sigs, Seq("sb"))
    saveTable(withPart(
      mediaClusters(spark.table(tn.keyed), spark.table(tn.sigs)),
      sigPart, "cb"), tn.clusters, Seq("cb"))
    tn
  }

  /** q374 body's engine: INCREMENTAL media-artifact maintenance — the
    * append cell of the media matrix (materialize / append / takedown).
    * New ownership rows append as-is; the DECODE runs only for media
    * keys the index has never seen (one anti-join against the stored
    * fingerprint table — a re-upload of a known payload costs zero
    * codec work, which is the entire point of persisting fingerprints);
    * cluster groups touched by the batch recompute over the stored +
    * appended ownership rows (the affected-group pruning of
    * [[takedownMedia]], merge-side). No id contract is needed beyond
    * uniqueness: cluster canonicals are group minima, recomputed
    * exactly over each affected group.
    */
  def appendToMedia(spark: SparkSession, newDocs: DataFrame,
      prefix: String): Unit = {
    val tn = mediaTables(prefix)
    val keyedN = mediaKeyed(newDocs.select(col("doc_id")))
      .localCheckpoint(true)
    if (keyedN.isEmpty) return
    val keyedT = spark.table(tn.keyed)
    // stored max from the pinned watermark property
    val maxOld = pinnedMaxDocId(spark, tn.keyed)
    val newStats = keyedN.agg(min(col("doc_id")), count(col("doc_id")),
      countDistinct(col("doc_id")), max(col("doc_id"))).head()
    val minNew = newStats.getLong(0)
    require(minNew > maxOld,
      s"appendToMedia: batch doc_id $minNew interleaves the stored corpus " +
        s"(max stored $maxOld) — ids must be fresh")
    // an intra-batch duplicate passes the ordering check but appends
    // the same ownership row twice, double-counting that doc in every
    // cluster recompute (ADVICE r15)
    require(newStats.getLong(1) == newStats.getLong(2),
      s"appendToMedia: batch carries duplicated doc_ids " +
        s"(${newStats.getLong(1)} rows, ${newStats.getLong(2)} distinct)")
    // decode ONLY never-seen payloads
    val newKeys = keyedN.select(col("media_key")).distinct()
      .join(spark.table(tn.sigs).select(col("media_key")),
        Seq("media_key"), "left_anti")
    val sigsN = mediaSigs(spark,
        newKeys.select(col("media_key")))
      .localCheckpoint(true)
    // pure appends: new files land only in the batch's partition
    // directories; stored rows never move
    withPb(keyedN, "doc_id")
      .select(keyedT.columns.map(col): _*)
      .write.mode(SaveMode.Append).format("parquet")
      .insertInto(tn.keyed)
    pinMaxDocId(spark, tn.keyed, newStats.getLong(3))
    withPart(sigsN, col("media_key"), "sb")
      .select(spark.table(tn.sigs).columns.map(col): _*)
      .write.mode(SaveMode.Append).format("parquet")
      .insertInto(tn.sigs)
    // recompute exactly the cluster GROUPS the batch's keys belong to.
    // Groups are keyed by SIGNATURE, not media_key: a stored key whose
    // payload fingerprint collides with a batch key's (cross-payload
    // collision — the exact dedup premise of q293) lives in the same
    // group, so the affected relation must widen from the batch keys
    // to EVERY key sharing an affected signature (the takedownMedia
    // derivation: keys → their signatures → all sig rows in those
    // groups). ADVICE r15: semi-joining sigs on the batch keys alone
    // dropped a colliding sibling's members from the recompute while
    // the kept-side anti-join still removed its stored cluster row.
    val batchKeys = broadcast(keyedN.select(col("media_key")).distinct()
      .localCheckpoint(true))
    val sigsT = spark.table(tn.sigs)
    val affSigs = broadcast(sigsT
      .join(batchKeys, Seq("media_key"), "left_semi")
      .select(sigCols.map(col): _*).distinct().localCheckpoint(true))
    val affSigRel = sigsT.join(affSigs, sigCols, "left_semi")
      .localCheckpoint(true)
    val recomputed = mediaClusters(
      spark.table(tn.keyed).join(affSigRel.select(col("media_key")),
        Seq("media_key"), "left_semi"),
      affSigRel)
    // surgical rewrite of only the signature-hash buckets holding the
    // affected groups (VERDICT r16 #5)
    val clB = bucketsOfKey(affSigs, sigPart)
    val keptIn = spark.table(tn.clusters).where(col("cb").isin(clB: _*))
      .join(affSigs, sigCols, "left_anti")
      .select((sigCols :+ "canonical_id" :+ "n_members").map(col): _*)
    Tables.replacePartitions(spark, tn.clusters, "cb", clB,
      withPart(keptIn.unionByName(recomputed), sigPart, "cb"))
  }

  /** Media-artifact takedown: delete the docs' ownership rows, retire
    * fingerprints whose every owner is gone (the CONTENT-forgetting
    * step — a payload with no surviving upload must not survive as a
    * searchable fingerprint), and repair exactly the cluster groups
    * that contained a deleted doc (canonical-min migration when the
    * keep-first winner dies; row removal when a cluster falls below
    * 2 members). Only signature groups owning a deleted doc are
    * recomputed — the affected-key pruning of [[takedownClusters]];
    * at production scale media keys are content hashes and this bound
    * is what keeps the sweep O(deletion).
    */
  def takedownMedia(spark: SparkSession, deletedDocs: DataFrame,
      prefix: String): Unit = {
    val tn = mediaTables(prefix)
    val del = broadcast(deletedDocs.select(col("doc_id")).distinct()
      .localCheckpoint(true))
    val keyedT = spark.table(tn.keyed)
    val sigsT = spark.table(tn.sigs)
    val affKeys = broadcast(keyedT.join(del, Seq("doc_id"))
      .select(col("media_key")).distinct().localCheckpoint(true))
    // the surviving ownership view — a lazy anti-join the downstream
    // derivations read; only the affected buckets of it are ever
    // rewritten (VERDICT r16 #5)
    val survKeyed = keyedT.join(del, Seq("doc_id"), "left_anti")
    // fingerprints with zero surviving owners leave. The existence probe
    // scans only ownership rows of the affected keys (broadcast semi)
    val deadKeys = broadcast(affKeys.join(
        survKeyed.join(affKeys, Seq("media_key"), "left_semi")
          .select(col("media_key")).distinct(),
        Seq("media_key"), "left_anti")
      .localCheckpoint(true))
    // cluster groups containing a deleted doc: recompute over survivors
    val affSigs = broadcast(sigsT.join(affKeys, Seq("media_key"))
      .select(sigCols.map(col): _*).distinct().localCheckpoint(true))
    // the sig rows of the affected groups; mediaClusters joins keyed ×
    // sigs on media_key itself, so the keyed side passes ownership rows
    // only (semi-restricted to the affected groups' keys)
    val affSigRel = sigsT.join(affSigs, sigCols, "left_semi")
      .localCheckpoint(true)
    val recomputed = mediaClusters(
      survKeyed.join(affSigRel.select(col("media_key")),
        Seq("media_key"), "left_semi"),
      affSigRel)
    // surgical rewrites, most-derived first (each replacement is staged
    // before its partitions are dropped): clusters — affected
    // signature groups' buckets; sigs — retired keys' buckets; keyed —
    // deleted docs' buckets
    val clB = bucketsOfKey(affSigs, sigPart)
    val keptIn = spark.table(tn.clusters).where(col("cb").isin(clB: _*))
      .join(affSigs, sigCols, "left_anti")
      .select((sigCols :+ "canonical_id" :+ "n_members").map(col): _*)
    Tables.replacePartitions(spark, tn.clusters, "cb", clB,
      withPart(keptIn.unionByName(recomputed), sigPart, "cb"))
    val sgB = bucketsOf(deadKeys, "media_key")
    Tables.replacePartitions(spark, tn.sigs, "sb", sgB,
      sigsT.where(col("sb").isin(sgB: _*))
        .join(deadKeys, Seq("media_key"), "left_anti"))
    val kdB = bucketsOf(del, "doc_id")
    Tables.replacePartitions(spark, tn.keyed, "pb", kdB,
      keyedT.where(col("pb").isin(kdB: _*))
        .join(del, Seq("doc_id"), "left_anti"))
  }

  /** q365 body: the takedown sweep extended to the MEDIA artifact tier
    * (VERDICT r14 #8). The deletion set composes both real-world
    * shapes: a user right-to-be-forgotten set (doc_id % 13 — q350's)
    * AND a content takedown of one specific payload (every owner of
    * media key 7 — the DMCA shape, which is what makes the
    * fingerprint-retirement path non-vacuous: a key whose ~1% owner
    * set is hit only by the % 13 sweep always keeps a survivor).
    * Grades per artifact: counts, residue (rows keyed by a deleted doc
    * / fingerprints with no surviving owner / clusters with a deleted
    * canonical), and row-identity with a from-scratch q293
    * materialization on the survivors.
    */
  def mediaTakedownSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val delDocs = docs
      .where(col("doc_id") % 13 === 0 || col("doc_id") % 97 === 7)
      .localCheckpoint(true)
    val surv = docs.join(broadcast(delDocs), Seq("doc_id"), "left_anti")
    val tn = mediaMaterialize(spark, docs, "graft_mtd")
    val keyedBefore = spark.table(tn.keyed).count()
    val sigsBefore = spark.table(tn.sigs).count()
    val cluBefore = spark.table(tn.clusters).count()
    val keyedDel = spark.table(tn.keyed)
      .join(broadcast(delDocs), Seq("doc_id")).count()
    takedownMedia(spark, delDocs, "graft_mtd")
    val keyedAfter = spark.table(tn.keyed).count()
    val sigsAfter = spark.table(tn.sigs).count()
    val cluAfter = spark.table(tn.clusters).count()
    val keyedResidue = spark.table(tn.keyed)
      .join(broadcast(delDocs), Seq("doc_id")).count()
    // a fingerprint with no surviving owner, or an ownerless cluster
    // canonical pointing at a deleted doc, is residue
    val sigsResidue = spark.table(tn.sigs)
      .join(spark.table(tn.keyed).select(col("media_key")).distinct(),
        Seq("media_key"), "left_anti").count()
    val cluResidue = spark.table(tn.clusters)
      .join(broadcast(delDocs.select(col("doc_id").as("canonical_id"))),
        Seq("canonical_id")).count()
    val rbKeyed = mediaKeyed(surv)
    val rbSigs = mediaSigs(spark, rbKeyed)
    // explicit columns: the stored tables carry their partition column,
    // the rebuilds don't
    val keyedMatch = eqSets(
      spark.table(tn.keyed).select(col("doc_id"), col("media_key")),
      rbKeyed)
    val sigsMatch = eqSets(
      spark.table(tn.sigs).select(("media_key" +: sigCols).map(col): _*),
      rbSigs)
    val cluMatch = eqSets(
      spark.table(tn.clusters).select(
        (sigCols :+ "canonical_id" :+ "n_members").map(col): _*),
      mediaClusters(rbKeyed, rbSigs).select(
        (sigCols :+ "canonical_id" :+ "n_members").map(col): _*))
    Seq(
      ("media_clusters", cluBefore, cluBefore - cluAfter, cluAfter,
        cluResidue, if (cluMatch) 1 else 0),
      ("media_keyed", keyedBefore, keyedDel, keyedAfter, keyedResidue,
        if (keyedMatch) 1 else 0),
      ("media_sigs", sigsBefore, sigsBefore - sigsAfter, sigsAfter,
        sigsResidue, if (sigsMatch) 1 else 0))
      .toDF("artifact", "n_before", "n_deleted", "n_after", "n_residue",
        "matches_rebuild")
      .orderBy("artifact")
  }

  // ------------------------------------------------------------------
  // The graded sweep
  // ------------------------------------------------------------------

  /** q350 body: materialize all three artifacts on the full corpus,
    * take down a deterministic deletion set (doc_id % 13 == 0 docs,
    * vec_id % 11 == 0 vectors), and report per artifact: row counts
    * before/deleted/after, residue (rows still referencing a deleted
    * id — must be 0), and row-identity with a from-scratch rebuild on
    * the surviving corpus. The rebuild comparisons are the honest cost
    * of the proof and run INSIDE the graded query (the q334 audit
    * doctrine).
    */
  def takedownSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val delDocs = docs.where(col("doc_id") % 13 === 0)
      .select(col("doc_id"))
    val survDocs = docs.where(col("doc_id") % 13 =!= 0)

    // -- curated corpus -------------------------------------------------
    val ct = curatedMaterializeWithProvenance(spark, docs, "graft_td")
    val curBefore = spark.table(ct.curated).count()
    val curDeleted = spark.table(ct.curated)
      .join(broadcast(delDocs), Seq("doc_id")).count()
    takedownCurated(spark, docs, delDocs, "graft_td")
    val curAfter = spark.table(ct.curated).count()
    val curResidue =
      spark.table(ct.curated).join(broadcast(delDocs), Seq("doc_id")).count() +
        spark.table(ct.pars).join(broadcast(delDocs), Seq("doc_id")).count() +
        spark.table(ct.buckets)
          .select(shiftright(col("pid"), 20).as("doc_id"))
          .join(broadcast(delDocs), Seq("doc_id")).count()
    val curRebuild = curatedFromPars(parsAndBuckets(survDocs)._1, survDocs)
    val curMatches =
      curatedCensus(spark.table(ct.curated)) == curatedCensus(curRebuild)

    // -- dedup cluster map ----------------------------------------------
    val kt = clustersMaterializeWithProvenance(spark, docs, "graft_td")
    val cluBefore = spark.table(kt.clusters).count()
    val cluDeleted = spark.table(kt.clusters)
      .join(broadcast(delDocs), Seq("doc_id")).count()
    takedownClusters(spark, delDocs, "graft_td")
    val cluAfter = spark.table(kt.clusters).count()
    // residue: a surviving row keyed by a deleted doc OR labeled by a
    // deleted doc's id (the subtle one — stale cluster minima)
    val cluResidue =
      spark.table(kt.clusters).join(broadcast(delDocs), Seq("doc_id")).count() +
        spark.table(kt.clusters)
          .join(broadcast(delDocs.select(col("doc_id").as("cluster_id"))),
            Seq("cluster_id")).count() +
        spark.table(kt.dbuckets).join(broadcast(delDocs), Seq("doc_id")).count()
    val cluMatches = eqSets(
      spark.table(kt.clusters)
        .select(col("doc_id"), col("cluster_id"), col("is_dup")),
      DedupOps.starClusters(survDocs).select(col("doc_id"),
        col("cluster_id"), col("is_dup")))

    // -- stored ANN index -----------------------------------------------
    val v = SimilarityOps.vectors(spark, dir)
    val delVecs = v.where(col("vec_id") % 11 === 0).select(col("vec_id"))
    val survVecs = v.where(col("vec_id") % 11 =!= 0)
    val at = AnnIndexOps.tables("graft_tdann")
    AnnIndexOps.buildResidualIndex(spark, v, "graft_tdann")
    val q = SimilarityOps.queriesOf(v, 20)
    val preServe = AnnIndexOps.serveTopK(spark, q, "graft_tdann")
      .localCheckpoint(true)
    val serveBefore = preServe.count()
    val serveDeleted = preServe.join(broadcast(delVecs), Seq("vec_id")).count()
    val codesBefore = spark.table(at.codes).count()
    val codesDeleted = spark.table(at.codes)
      .join(broadcast(delVecs), Seq("vec_id")).count()
    val vecsBefore = spark.table(at.vectors).count()
    val vecsDeleted = spark.table(at.vectors)
      .join(broadcast(delVecs), Seq("vec_id")).count()
    AnnIndexOps.takedownIndex(spark, "graft_tdann", delVecs)
    val rt = AnnIndexOps.rebuildWithFrozen(spark, survVecs, "graft_tdann",
      "graft_tdannrb")
    val codesAfter = spark.table(at.codes).count()
    val codesResidue = spark.table(at.codes)
      .join(broadcast(delVecs), Seq("vec_id")).count()
    val vecsAfter = spark.table(at.vectors).count()
    val vecsResidue = spark.table(at.vectors)
      .join(broadcast(delVecs), Seq("vec_id")).count()
    val codesMatch = eqSets(spark.table(at.codes), spark.table(rt.codes))
    val vecsMatch = eqSets(spark.table(at.vectors), spark.table(rt.vectors))
    val postServe = AnnIndexOps.serveTopK(spark, q, "graft_tdann")
      .localCheckpoint(true)
    val serveAfter = postServe.count()
    val serveResidue = postServe.join(broadcast(delVecs), Seq("vec_id")).count()
    val serveMatch = eqSets(postServe,
      AnnIndexOps.serveTopK(spark, q, "graft_tdannrb"))

    Seq(
      ("ann_codes", codesBefore, codesDeleted, codesAfter, codesResidue,
        if (codesMatch) 1 else 0),
      ("ann_serve", serveBefore, serveDeleted, serveAfter, serveResidue,
        if (serveMatch) 1 else 0),
      ("ann_vectors", vecsBefore, vecsDeleted, vecsAfter, vecsResidue,
        if (vecsMatch) 1 else 0),
      ("curated_corpus", curBefore, curDeleted, curAfter, curResidue,
        if (curMatches) 1 else 0),
      ("dedup_clusters", cluBefore, cluDeleted, cluAfter, cluResidue,
        if (cluMatches) 1 else 0))
      .toDF("artifact", "n_before", "n_deleted", "n_after", "n_residue",
        "matches_rebuild")
      .orderBy("artifact")
  }

  /** q357 body: the curated-corpus LIFECYCLE COMPOSED — materialize
    * the base, append the id-ordered tail incrementally (q355), then
    * take down a deletion set that spans BOTH slices (q350), and grade
    * the per-language census against a from-scratch rebuild on the
    * survivors, row by row. q355 proves append == rebuild and q350
    * proves takedown == rebuild, but composition is not automatic —
    * the takedown's repair must operate correctly over provenance rows
    * the APPEND wrote (a deleted base doc can hand a paragraph back to
    * an appended doc) — so the composed equality is its own grade.
    * Output: the swept census with a per-language matches_rebuild flag
    * (census-row equality vs the rebuild — the q348 fingerprint makes
    * any lost/duplicated/altered row visible).
    */
  def curatedLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
      .getLong(0)
    curatedMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_lc")
    appendToCurated(spark, docs.where(col("doc_id") > cut), "graft_lc")
    val delDocs = docs.where(col("doc_id") % 13 === 0).select(col("doc_id"))
    takedownCurated(spark, docs, delDocs, "graft_lc")
    val surv = docs.where(col("doc_id") % 13 =!= 0)
    val rebuild = CurationOps.curatedCensusOf(
      curatedFromPars(parsAndBuckets(surv)._1, surv))
      .withColumnRenamed("n_docs", "r_docs")
      .withColumnRenamed("n_tokens", "r_tokens")
      .withColumnRenamed("fingerprint", "r_fp")
    CurationOps.curatedCensusOf(spark.table("graft_lc_curated"))
      .join(rebuild, Seq("lang"), "full")
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("fingerprint"),
        // coalesce to 0: a language present on only ONE side of the
        // full join (lost or fabricated by the sweep) is exactly the
        // mismatch this flag exists to report — null-propagating the
        // conjunction would grade it as null instead of 0
        coalesce((col("n_docs") === col("r_docs") &&
          col("n_tokens") === col("r_tokens") &&
          col("fingerprint") === col("r_fp")).cast("int"), lit(0))
          .as("matches_rebuild"))
      .orderBy("lang")
  }

  /** q358 body: DEEP (content-level) takedown — the right-to-be-
    * forgotten reading where deleting a document means deleting its
    * CONTENT, not its row: verbatim re-uploads and near-copies of the
    * requested items must go too, or the serve re-surfaces what was
    * supposedly forgotten. The deletion set is therefore EXPANDED
    * before the sweep:
    *
    *  - text side: the requested docs' transitive near-dup cluster
    *    mates ([[DedupOps.starClusters]] — the conservative reading: a
    *    banding false positive deletes an innocent near-neighbor, the
    *    policy's accepted trade), then q350's curated sweep;
    *  - vector side: every corpus vector within cosine ≥ 0.95 of a
    *    requested vector (q43's near-dup bar; ONE corpus pass against
    *    the broadcast requested set), then the index takedown.
    *
    * The grade proves both the MECHANICS (row residue zero, swept
    * state == rebuild on survivors) and the POLICY (semantic residue
    * zero: re-scanning the swept index with the requested vectors
    * finds nothing at the bar — i.e. the expansion was complete).
    */
  def deepTakedown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val reqDocs = docs.where(col("doc_id") % 29 === 0).select(col("doc_id"))
      .localCheckpoint(true)
    val clusters = DedupOps.starClusters(docs)
      .select(col("doc_id"), col("cluster_id")).localCheckpoint(true)
    val reqClusters = clusters.join(broadcast(reqDocs), Seq("doc_id"))
      .select(col("cluster_id")).distinct()
    val expDocs = clusters.join(broadcast(reqClusters), Seq("cluster_id"))
      .select(col("doc_id")).localCheckpoint(true)
    val ct = curatedMaterializeWithProvenance(spark, docs, "graft_dd")
    takedownCurated(spark, docs, expDocs, "graft_dd")
    val curResidue =
      spark.table(ct.curated).join(broadcast(expDocs), Seq("doc_id")).count() +
        spark.table(ct.pars).join(broadcast(expDocs), Seq("doc_id")).count() +
        spark.table(ct.buckets)
          .select(shiftright(col("pid"), 20).as("doc_id"))
          .join(broadcast(expDocs), Seq("doc_id")).count()
    val survDocs = docs.join(broadcast(expDocs), Seq("doc_id"), "left_anti")
    val curMatches =
      curatedCensus(spark.table(ct.curated)) ==
        curatedCensus(curatedFromPars(parsAndBuckets(survDocs)._1, survDocs))

    // planted semantic twins (the q118 convention): the synthetic
    // embeddings have no natural cosine-0.95 neighbors, so without
    // these the vector expansion would freeze vacuously equal to the
    // requested set. 9000000012 ≡ 0 (mod 29) — requested; its verbatim
    // copy and its one-coordinate perturbation are NOT requested and
    // must be caught by the expansion alone.
    val twinBase = (0 until 64).map(i => ((i * 37 + 11) % 101) / 101.0)
    val planted = Seq(
      (9000000012L, 0, twinBase),
      (9000000013L, 0, twinBase),
      (9000000014L, 0, twinBase.updated(3, twinBase(3) + 0.001)))
      .toDF("vec_id", "label", "v")
    val v = SimilarityOps.vectors(spark, dir).unionByName(planted)
    val reqVecs = v.where(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .localCheckpoint(true)
    def nearOf(corpus: DataFrame): DataFrame = corpus
      .join(broadcast(reqVecs))
      .where(SimilarityOps.cosine("qv", "v") >= 0.95)
      .select(col("vec_id")).distinct()
    val expVecs = nearOf(v).localCheckpoint(true)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_ddann")
    AnnIndexOps.takedownIndex(spark, "graft_ddann", expVecs)
    val at = AnnIndexOps.tables("graft_ddann")
    val rowResidue = spark.table(at.vectors)
      .join(broadcast(expVecs), Seq("vec_id")).count() +
      spark.table(at.codes).join(broadcast(expVecs), Seq("vec_id")).count()
    // the policy proof: nothing at the bar survives in the swept index
    val semResidue = nearOf(
      spark.table(at.vectors).select(col("vec_id"), col("v"))).count()
    val rt = AnnIndexOps.rebuildWithFrozen(spark,
      v.join(broadcast(expVecs), Seq("vec_id"), "left_anti"),
      "graft_ddann", "graft_ddannrb")
    val annMatches = eqSets(spark.table(at.vectors), spark.table(rt.vectors)) &&
      eqSets(spark.table(at.codes), spark.table(rt.codes))

    Seq(
      ("ann", reqVecs.count(), expVecs.count(), rowResidue + semResidue,
        if (annMatches) 1 else 0),
      ("curated", reqDocs.count(), expDocs.count(), curResidue,
        if (curMatches) 1 else 0))
      .toDF("artifact", "n_requested", "n_expanded", "n_residue",
        "matches_rebuild")
      .orderBy("artifact")
  }

  val defs: Seq[QueryDef] = Seq(
    // Media-artifact takedown: the sweep extended to q293's fingerprint
    // tier — ownership rows deleted, ownerless fingerprints retired
    // (the DMCA content-takedown shape makes that path non-vacuous),
    // affected cluster groups repaired; zero residue + rebuild
    // identity graded per artifact. Engine-side decode -> golden.
    QueryDef("q365_media_takedown", literalOracle("q365_media_takedown"),
      (spark, dir) => mediaTakedownSweep(spark, dir)),

    // Cluster-map lifecycle composition: materialize -> incremental
    // merge -> takedown spanning both slices; the composed state must
    // equal a from-scratch closure on the survivors (the takedown's
    // relabel walks bucket rows the MERGE wrote). Golden.
    QueryDef("q372_cluster_lifecycle",
      literalOracle("q372_cluster_lifecycle"),
      (spark, dir) => clusterLifecycle(spark, dir)),

    // Incremental media-artifact maintenance: ownership rows append,
    // the decode runs ONLY for never-seen payloads, touched cluster
    // groups recompute — held to q293's OWN full SQL oracle: the
    // incrementally-grown artifact must equal from-scratch media dedup.
    QueryDef("q374_media_append", Some(MultimodalOps.mediaDedupSql),
      (spark, dir) => {
        val docs = t(spark, dir, "documents").select(col("doc_id"))
        val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
          .getLong(0)
        mediaMaterialize(spark, docs.where(col("doc_id") <= cut),
          "graft_ma")
        appendToMedia(spark, docs.where(col("doc_id") > cut), "graft_ma")
        spark.table("graft_ma_mclusters")
          .select((sigCols :+ "canonical_id" :+ "n_members").map(col): _*)
          .orderBy("canonical_id")
      }),

    // Incremental cluster-map maintenance: base materialized with
    // bucket provenance, the id-ordered tail merged via component-local
    // re-closure (O(batch + affected), no corpus re-banding) — readback
    // graded against q51's OWN golden: the incremental merge must
    // reproduce the from-scratch transitive closure byte-identically
    // (the q308/q355 shared-golden doctrine).
    QueryDef("q360_cluster_append", literalOracle("q51_dedup_clusters"),
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
          .getLong(0)
        clustersMaterializeWithProvenance(spark,
          docs.where(col("doc_id") <= cut), "graft_cla")
        appendToClusters(spark, docs.where(col("doc_id") > cut), "graft_cla")
        spark.table("graft_cla_clusters")
          .select(col("doc_id"), col("cluster_id"), col("is_dup"))
          .orderBy("doc_id")
      }),

    // Deep (content-level) takedown: the deletion set expanded to
    // near-dup cluster mates (text) and cosine>=0.95 neighbors
    // (vectors) before the sweep; grades row residue, semantic
    // residue, and rebuild identity. Engine-side hashing -> golden.
    QueryDef("q358_deep_takedown", literalOracle("q358_deep_takedown"),
      (spark, dir) => deepTakedown(spark, dir)),

    // Lifecycle composition: materialize -> incremental append ->
    // takedown spanning both slices, census == from-scratch rebuild
    // per language. Engine-side hashing -> golden.
    QueryDef("q357_curated_lifecycle", literalOracle("q357_curated_lifecycle"),
      (spark, dir) => curatedLifecycle(spark, dir)),

    // Incremental curated-corpus maintenance: base materialized with
    // provenance, the id-ordered tail appended against the STORED
    // bucket relation (O(batch), no corpus re-banding) — readback
    // census graded against q348's OWN golden: incremental append must
    // reproduce the from-scratch materialization byte-identically.
    QueryDef("q355_curated_append", literalOracle("q348_curated_corpus"),
      (spark, dir) => {
        val docs = t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head()
          .getLong(0)
        curatedMaterializeWithProvenance(spark,
          docs.where(col("doc_id") <= cut), "graft_ca")
        appendToCurated(spark, docs.where(col("doc_id") > cut), "graft_ca")
        CurationOps.curatedCensusOf(spark.table("graft_ca_curated"))
      }),

    // Right-to-be-forgotten sweep across every materialized artifact:
    // zero residue + row-identity with a from-scratch rebuild on the
    // surviving corpus, proven inside the graded query. Engine-side
    // hash families + frozen fits -> literal golden; TakedownSpec pins
    // the planted flip/split/serve cases.
    QueryDef("q350_takedown", literalOracle("q350_takedown"),
      (spark, dir) => takedownSweep(spark, dir)))
}
