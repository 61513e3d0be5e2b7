package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndexOps, CurationOps, DedupOps, SimilarityOps, TakedownOps}

/** Takedown / right-to-be-forgotten sweep (q350): planted cases for the
  * three propagation problems the sweep must solve exactly —
  *  - curated corpus: a deleted doc that was the keep-first winner of a
  *    shared paragraph must hand the paragraph back to the survivors
  *    (including re-admitting a doc the scrub had previously emptied),
  *  - cluster map: deleting a bridge doc must SPLIT its component, and
  *    deleting a component's minimum must migrate the label,
  *  - ANN index: table + serve residue zero, and row/serve identity
  *    with a frozen-quantizer rebuild on the survivors.
  */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  // 20-token paragraphs, every token alphabetic len 3-10 so the gate
  // (>= 20 tokens, 3 <= avg len <= 10, >= 80% alpha) passes
  private val P =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
  private val Q =
    "pencil marker crayon eraser ruler binder folder staple sticky " +
      "tape scissors glue paper canvas easel brush paint sketch doodle draft"
  private val tail50 =
    "uniform victor whiskey xray yankee zulu apple banana cherry dates " +
      "elder figs grape honey iris jasmine kiwi lemon mango nectar"
  private val filler =
    "granite marble basalt quartz slate gneiss schist pumice obsidian " +
      "shale chalk flint gravel pebble boulder crystal geode mineral ore vein"

  private def curatedDocs: DataFrame = Seq(
    (10L, "en", s"$P $Q"),      // keep-first winner of BOTH paragraphs
    (50L, "en", s"$P $tail50"), // P scrubbed against doc 10
    (60L, "en", s"$P $Q"),      // fully scrubbed -> gated out
    (70L, "en", filler)         // untouched bystander
  ).toDF("doc_id", "lang", "text")

  test("curated takedown: keep-first flip repairs survivors and re-admits emptied docs") {
    val docs = curatedDocs
    val tn = TakedownOps.curatedMaterializeWithProvenance(
      spark, docs, "graft_tdspec")
    val before = spark.table(tn.curated).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(before(10L) == s"$P $Q")
    assert(before(50L) == tail50, "doc 50's copy of P must be scrubbed while doc 10 owns it")
    assert(!before.contains(60L), "doc 60 (every paragraph a dup) must be gated out")
    assert(before(70L) == filler)

    TakedownOps.takedownCurated(spark, docs,
      Seq(10L).toDF("doc_id"), "graft_tdspec")
    val after = spark.table(tn.curated).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(!after.contains(10L), "deleted doc must leave the curated table")
    assert(after(50L) == s"$P $tail50",
      "doc 50 must regain P once the keep-first winner is deleted")
    assert(after(60L) == Q,
      "doc 60 must re-enter with Q (P now belongs to doc 50, still earlier)")
    assert(after(70L) == filler, "unaffected docs must not be rewritten")

    // zero residue in the provenance tables too
    assert(spark.table(tn.pars).where(col("doc_id") === 10L).isEmpty)
    assert(spark.table(tn.buckets)
      .where(shiftright(col("pid"), 20) === 10L).isEmpty)

    // and the swept state IS the from-scratch q348 materialization on
    // the surviving corpus, row for row
    CurationOps.curatedMaterialize(spark,
      docs.where(col("doc_id") =!= 10L))
    val rebuild = spark.table("graft_curated")
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    val swept = spark.table(tn.curated)
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    assert(swept.exceptAll(rebuild).isEmpty && rebuild.exceptAll(swept).isEmpty,
      "swept curated table must equal the rebuild on survivors")
  }

  test("provenance materialization matches q348 / q51 on real data") {
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val tn = TakedownOps.curatedMaterializeWithProvenance(
      spark, docs, "graft_tdspec2")
    CurationOps.curatedMaterialize(spark, docs)
    val mine = spark.table(tn.curated)
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    val q348 = spark.table("graft_curated")
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    assert(mine.exceptAll(q348).isEmpty && q348.exceptAll(mine).isEmpty,
      "provenance-bearing materialization must be byte-identical to q348's")

    val kt = TakedownOps.clustersMaterializeWithProvenance(
      spark, docs, "graft_tdspec2")
    val lbl = spark.table(kt.clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val q51 = DedupOps.starClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(lbl == q51,
      "provenance-bearing cluster map must equal q51's star closure")
  }

  // near-dup chain: a ~ b ~ c by single-word edits (banding-linked),
  // d unrelated, e null — the DedupSpec chain fixture
  private val baseText =
    "the quick brown fox jumps over the lazy dog while the spark engine " +
      "shuffles partitions across the cluster and the optimizer prunes " +
      "columns pushing filters down to the parquet scan so that the " +
      "next stage of the pipeline reads them back prunes the columns it " +
      "needs and joins against the broadcast dimension tables"
  private def clusterDocs: DataFrame = {
    val b = baseText.replace("broadcast", "replicated")
    val c = b.replace("quick brown", "swift auburn")
    Seq((11L, baseText), (12L, b), (13L, c),
      (14L, "completely different content about databases query planners " +
        "join ordering cost models statistics histograms cardinality " +
        "estimation vectorized execution morsels and adaptive scheduling"),
      (15L, null.asInstanceOf[String])).toDF("doc_id", "text")
  }

  private def clusterSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("doc_id"), col("cluster_id"), col("is_dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("cluster takedown: deleting a bridge splits, deleting the minimum migrates the label") {
    val docs = clusterDocs
    // the fixture must actually band 11-12 and 12-13 together (the
    // DedupSpec chain property); guard so a fixture drift fails loudly
    val edges = DedupOps.minhashEdges(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((12L, 11L)) || edges.contains((11L, 12L)),
      s"fixture drift: 11-12 not banded, edges=$edges")

    // delete the bridge (12): survivors relabel exactly as a rebuild
    TakedownOps.clustersMaterializeWithProvenance(spark, docs, "graft_tdspec3")
    TakedownOps.takedownClusters(spark, Seq(12L).toDF("doc_id"), "graft_tdspec3")
    val sweptA = clusterSet(spark.table("graft_tdspec3_clusters"))
    val rebuildA = clusterSet(
      DedupOps.starClusters(docs.where(col("doc_id") =!= 12L)))
    assert(sweptA == rebuildA,
      s"bridge deletion must match the rebuild: $sweptA vs $rebuildA")
    assert(!sweptA.exists(_._1 == 12L) && !sweptA.exists(_._2 == 12L),
      "no surviving row may reference the deleted doc")

    // delete the component minimum (11): labels must migrate off 11
    TakedownOps.clustersMaterializeWithProvenance(spark, docs, "graft_tdspec3")
    TakedownOps.takedownClusters(spark, Seq(11L).toDF("doc_id"), "graft_tdspec3")
    val sweptB = clusterSet(spark.table("graft_tdspec3_clusters"))
    val rebuildB = clusterSet(
      DedupOps.starClusters(docs.where(col("doc_id") =!= 11L)))
    assert(sweptB == rebuildB)
    assert(!sweptB.exists(_._2 == 11L),
      "a deleted doc's id must not survive as a cluster label")
  }

  test("cluster maintenance: the oversized-component broadcast fallback is exact") {
    // VERDICT r15 #7: a pathological mega-component would make the
    // affected-member set corpus-sized, and a forced broadcast hint
    // then OOMs instead of degrading. Force the guard's bound to 0 so
    // EVERY affected set takes the unhinted (shuffle-join) fallback,
    // and assert both maintenance ops still equal the from-scratch
    // closure — the fallback changes the physical join strategy only.
    val docs = clusterDocs
    spark.conf.set("spark.graft.maintenance.broadcastMaxRows", "0")
    try {
      TakedownOps.clustersMaterializeWithProvenance(spark, docs,
        "graft_bfspec")
      TakedownOps.takedownClusters(spark, Seq(12L).toDF("doc_id"),
        "graft_bfspec")
      assert(clusterSet(spark.table("graft_bfspec_clusters")) ===
        clusterSet(DedupOps.starClusters(docs.where(col("doc_id") =!= 12L))),
        "takedown through the shuffle fallback must match the rebuild")
      val batch = Seq((16L, baseText.replace("lazy", "sleepy")))
        .toDF("doc_id", "text")
      TakedownOps.appendToClusters(spark, batch, "graft_bfspec")
      assert(clusterSet(spark.table("graft_bfspec_clusters")) ===
        clusterSet(DedupOps.starClusters(
          docs.where(col("doc_id") =!= 12L).unionByName(batch))),
        "append through the shuffle fallback must match the rebuild")
    } finally
      spark.conf.unset("spark.graft.maintenance.broadcastMaxRows")
  }

  test("cluster append: a batch doc BRIDGES two stored components; new/isolated batch docs label right") {
    // a verified two-hop chain: C carries 4 spread word edits off the
    // base (too far to band with it under 8x8 MinHash — probed, stable:
    // xxhash64 is deterministic), B the even-indexed half of those
    // edits (bands with BOTH ends). Stored 11 (=A) and 13 (=C) start as
    // separate components; batch doc 16 (=B) must MERGE them — the
    // append-side mirror of the takedown's split case
    val words = baseText.split(" ")
    def mutated(evenOnly: Boolean): String = {
      val w = words.clone()
      val step = w.length / 4
      (0 until 4).foreach { i =>
        if (!evenOnly || i % 2 == 0)
          w((i * step + 2) % w.length) = s"zz2x$i"
      }
      w.mkString(" ")
    }
    val base = Seq((11L, baseText), (13L, mutated(evenOnly = false)),
      (14L, "completely different content about databases query planners " +
        "join ordering cost models statistics histograms cardinality " +
        "estimation vectorized execution morsels and adaptive scheduling"),
      (15L, null.asInstanceOf[String])).toDF("doc_id", "text")
    TakedownOps.clustersMaterializeWithProvenance(spark, base, "graft_claspec")
    val stored = clusterSet(spark.table("graft_claspec_clusters"))
    assert(stored.exists(x => x._1 == 11L && x._2 == 11L) &&
      stored.exists(x => x._1 == 13L && x._2 == 13L),
      s"fixture drift: 11 and 13 must start as separate components: $stored")

    // batch: the bridge (16 = the half-mutated midpoint), a near-dup
    // pair that forms a NEW component entirely within the batch (17/18),
    // an isolated doc (19), and a null-text doc (21)
    val batch = Seq(
      (16L, mutated(evenOnly = true)),
      (17L, filler + " " + tail50),
      (18L, (filler + " " + tail50).replace("granite", "sandstone")),
      (19L, "entirely novel subject matter concerning medieval astronomy " +
        "astrolabes epicycles retrograde motion celestial spheres almanacs " +
        "observatories sextants and the precession of the equinoxes"),
      (21L, null.asInstanceOf[String])).toDF("doc_id", "text")
    TakedownOps.appendToClusters(spark, batch, "graft_claspec")
    val merged = clusterSet(spark.table("graft_claspec_clusters"))
    val rebuild = clusterSet(DedupOps.starClusters(base.unionByName(batch)))
    assert(merged == rebuild,
      s"incremental merge must equal the from-scratch closure:\n$merged\nvs\n$rebuild")
    assert(merged.exists(x => x._1 == 13L && x._2 == 11L) &&
      merged.exists(x => x._1 == 16L && x._2 == 11L),
      s"the batch bridge must merge 11/13/16 under label 11: $merged")
    assert(merged.exists(x => x._1 == 18L && x._2 == 17L),
      s"a batch-internal near-dup pair must form its own component: $merged")
    assert(merged.exists(x => x._1 == 19L && x._2 == 19L) &&
      merged.exists(x => x._1 == 21L && x._2 == 21L),
      "isolated and null-text batch docs must label self")
    assert(merged.exists(x => x._1 == 14L && x._2 == 14L),
      "untouched stored components must carry over verbatim")

    // a second append on top of the grown state must still be exact
    val batch2 = Seq((25L, filler + " " + tail50)).toDF("doc_id", "text")
    TakedownOps.appendToClusters(spark, batch2, "graft_claspec")
    val merged2 = clusterSet(spark.table("graft_claspec_clusters"))
    val rebuild2 = clusterSet(
      DedupOps.starClusters(base.unionByName(batch).unionByName(batch2)))
    assert(merged2 == rebuild2, "chained appends must stay exact")
    assert(merged2.exists(x => x._1 == 25L && x._2 == 17L),
      s"doc 25 must join the 17/18 component: $merged2")

    // the freshness contract: an interleaved id must fail loudly
    val bad = Seq((12L, baseText)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TakedownOps.appendToClusters(spark, bad, "graft_claspec")
    }
    assert(e.getMessage.contains("interleaves"))

    // an INTRA-batch duplicate passes the ordering check but would
    // fuse two docs' bucket rows — the guard must catch it (ADVICE r15)
    val dup = Seq((30L, baseText), (30L, baseText)).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      TakedownOps.appendToClusters(spark, dup, "graft_claspec")
    }
    assert(e2.getMessage.contains("duplicated"))

    // a stored map with no graft.maxDocId pin (a copy this code did not
    // materialize) has no trustworthy watermark: the append must throw,
    // not scan the id column
    Seq("clusters", "dbuckets").foreach(t =>
      spark.table(s"graft_claspec_$t").write.mode("overwrite")
        .partitionBy("pb").format("parquet").saveAsTable(s"graft_clanopin_$t"))
    val e3 = intercept[IllegalStateException] {
      TakedownOps.appendToClusters(spark, batch2.withColumn("doc_id", lit(40L)),
        "graft_clanopin")
    }
    assert(e3.getMessage.contains("no graft.maxDocId property"))
  }

  test("cluster lifecycle: the takedown splits a component the MERGE created") {
    // base: A (11) and C (13), too far apart to band; the APPENDED
    // bridge B (16) merges them under label 11. Deleting the appended
    // bridge must split them back — the takedown's component-local
    // relabel walking bucket rows the merge wrote — and deleting the
    // merged component's MINIMUM must migrate the label onto the
    // B-C pair.
    val words = baseText.split(" ")
    def mutated(evenOnly: Boolean): String = {
      val w = words.clone()
      val step = w.length / 4
      (0 until 4).foreach { i =>
        if (!evenOnly || i % 2 == 0)
          w((i * step + 2) % w.length) = s"zz2x$i"
      }
      w.mkString(" ")
    }
    val base = Seq((11L, baseText), (13L, mutated(evenOnly = false)))
      .toDF("doc_id", "text")
    val batch = Seq((16L, mutated(evenOnly = true))).toDF("doc_id", "text")
    val union = base.unionByName(batch)

    // split case: delete the appended bridge
    TakedownOps.clustersMaterializeWithProvenance(spark, base, "graft_clcspec")
    TakedownOps.appendToClusters(spark, batch, "graft_clcspec")
    val merged = clusterSet(spark.table("graft_clcspec_clusters"))
    assert(merged == Set((11L, 11L, 0), (13L, 11L, 1), (16L, 11L, 1)),
      s"fixture drift: the appended bridge must merge 11/13/16: $merged")
    TakedownOps.takedownClusters(spark, Seq(16L).toDF("doc_id"),
      "graft_clcspec")
    val split = clusterSet(spark.table("graft_clcspec_clusters"))
    assert(split == clusterSet(DedupOps.starClusters(base)),
      s"deleting the appended bridge must split the merged component: $split")

    // label-migration case: delete the merged component's minimum
    TakedownOps.clustersMaterializeWithProvenance(spark, base, "graft_clcspec")
    TakedownOps.appendToClusters(spark, batch, "graft_clcspec")
    TakedownOps.takedownClusters(spark, Seq(11L).toDF("doc_id"),
      "graft_clcspec")
    val migrated = clusterSet(spark.table("graft_clcspec_clusters"))
    assert(migrated == clusterSet(
      DedupOps.starClusters(union.where(col("doc_id") =!= 11L))),
      s"deleting the minimum must migrate the label onto B-C: $migrated")
    assert(migrated.exists(x => x._1 == 16L && x._2 == 13L),
      s"the appended doc must relabel under the surviving minimum: $migrated")
  }

  test("cluster append on real data: id-ordered tail merge equals q51's closure") {
    val docs = graft.util.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("t")).head().getLong(0)
    TakedownOps.clustersMaterializeWithProvenance(spark,
      docs.where(col("doc_id") <= cut), "graft_claspec2")
    TakedownOps.appendToClusters(spark,
      docs.where(col("doc_id") > cut), "graft_claspec2")
    val got = clusterSet(spark.table("graft_claspec2_clusters"))
    val want = clusterSet(DedupOps.starClusters(docs))
    assert(got == want,
      "incremental tail merge must reproduce the full-corpus closure")
  }

  test("curated append: delta scrubs against STORED provenance; equals from-scratch; interleave guarded") {
    val base = Seq(
      (10L, "en", s"$P $Q"),  // owns both paragraphs
      (20L, "en", filler)
    ).toDF("doc_id", "lang", "text")
    val delta = Seq(
      (90L, "en", s"$P $tail50"), // P must scrub against STORED doc 10
      (95L, "en", s"$tail50 $Q")  // tail50 dups doc 90 WITHIN the batch
    ).toDF("doc_id", "lang", "text")
    val tn = TakedownOps.curatedMaterializeWithProvenance(
      spark, base, "graft_caspec")
    TakedownOps.appendToCurated(spark, delta, "graft_caspec")
    val got = spark.table(tn.curated).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(got(90L) == tail50,
      s"P must scrub against the stored corpus, got '${got.get(90L)}'")
    assert(!got.contains(95L),
      "both of doc 95's paragraphs dup earlier pids -> gated out empty")

    // byte-identical to the from-scratch materialization of the union
    CurationOps.curatedMaterialize(spark, base.unionByName(delta))
    val rebuild = spark.table("graft_curated")
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    val swept = spark.table(tn.curated)
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    assert(swept.exceptAll(rebuild).isEmpty && rebuild.exceptAll(swept).isEmpty,
      "append must equal the from-scratch materialization")

    // the append contract: an interleaved id must fail loudly
    val bad = Seq((15L, "en", filler + " extra")).toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      TakedownOps.appendToCurated(spark, bad, "graft_caspec")
    }
    assert(e.getMessage.contains("interleaves"))
  }

  test("lifecycle composition: takedown repairs paragraphs the APPEND scrubbed") {
    // base doc 10 owns P; doc 90 arrives LATER via the incremental
    // append and has its copy of P scrubbed against the stored
    // provenance; deleting doc 10 must then hand P back to doc 90 —
    // the takedown's repair walking provenance rows the append wrote
    val base = Seq((10L, "en", s"$P $Q"), (20L, "en", filler))
      .toDF("doc_id", "lang", "text")
    val delta = Seq((90L, "en", s"$P $tail50"))
      .toDF("doc_id", "lang", "text")
    val tn = TakedownOps.curatedMaterializeWithProvenance(
      spark, base, "graft_lcspec")
    TakedownOps.appendToCurated(spark, delta, "graft_lcspec")
    val mid = spark.table(tn.curated).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(mid(90L) == tail50, "append must scrub P against stored doc 10")

    val union = base.unionByName(delta)
    TakedownOps.takedownCurated(spark, union,
      Seq(10L).toDF("doc_id"), "graft_lcspec")
    val after = spark.table(tn.curated).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(!after.contains(10L))
    assert(after(90L) == s"$P $tail50",
      s"takedown must repair the appended doc's scrub: ${after.get(90L)}")

    // and the composed state equals the from-scratch materialization
    CurationOps.curatedMaterialize(spark,
      union.where(col("doc_id") =!= 10L))
    val rebuild = spark.table("graft_curated")
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    val swept = spark.table(tn.curated)
      .select(col("doc_id"), col("lang"), col("text"), col("n_toks"))
    assert(swept.exceptAll(rebuild).isEmpty && rebuild.exceptAll(swept).isEmpty)
  }

  test("deep takedown: cluster mates and cosine twins go, bystanders stay") {
    // text side: near-dup pair (one-word edit) + an unrelated doc; a
    // deep request for doc 1 must expand to its cluster mate 2 and
    // leave 3 untouched
    val b = baseText.replace("lazy", "sleepy")
    val docs = Seq((1L, "en", baseText), (2L, "en", b),
      (3L, "en", filler)).toDF("doc_id", "lang", "text")
    val clusters = DedupOps.starClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
    val req = Seq(1L).toDF("doc_id")
    val expansion = clusters
      .join(clusters.join(req, Seq("doc_id"))
        .select(col("cluster_id")).distinct(), Seq("cluster_id"))
      .select(col("doc_id"))
    assert(expansion.collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "the near-dup mate must join the deletion set")
    val tn = TakedownOps.curatedMaterializeWithProvenance(
      spark, docs, "graft_ddspec")
    TakedownOps.takedownCurated(spark, docs, expansion, "graft_ddspec")
    val left = spark.table(tn.curated).collect().map(_.getLong(0)).toSet
    assert(left == Set(3L),
      s"content-level delete must remove both copies, keep bystanders: $left")

    // vector side: a verbatim twin and a perturbed twin of the
    // requested vector must be caught by the cosine bar and leave the
    // index; a re-scan with the requested vector finds nothing
    val base64 = (0 until 64).map(i => ((i * 37 + 11) % 101) / 101.0)
    val vecs = SimilarityOps.vectors(spark, sf).unionByName(Seq(
      (9000000012L, 0, base64),
      (9000000013L, 0, base64),
      (9000000014L, 0, base64.updated(3, base64(3) + 0.001)))
      .toDF("vec_id", "label", "v"))
    val reqQ = vecs.where(col("vec_id") === 9000000012L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def nearOf(c: org.apache.spark.sql.DataFrame) = c.join(broadcast(reqQ))
      .where(SimilarityOps.cosine("qv", "v") >= 0.95)
      .select(col("vec_id")).distinct()
    val expV = nearOf(vecs)
    assert(expV.collect().map(_.getLong(0)).toSet ==
      Set(9000000012L, 9000000013L, 9000000014L),
      "both twins must be caught by the cosine expansion")
    AnnIndexOps.buildResidualIndex(spark, vecs, "graft_ddspecann")
    AnnIndexOps.takedownIndex(spark, "graft_ddspecann", expV)
    assert(spark.table("graft_ddspecann_vectors")
      .where(col("vec_id") >= 9000000012L).isEmpty, "zero row residue")
    assert(nearOf(spark.table("graft_ddspecann_vectors")
      .select(col("vec_id"), col("v"))).isEmpty,
      "zero SEMANTIC residue: nothing at the bar survives the sweep")
  }

  test("media takedown: canonical migrates, shrunk clusters leave, ownerless fingerprints retire") {
    // key sharing via mod 97: docs 10/107/204 carry the SAME payload
    // (key 10), 11/108 share key 11, 5 is a singleton key
    val docs = Seq(10L, 107L, 204L, 11L, 108L, 5L).toDF("doc_id")
    val tn = TakedownOps.mediaMaterialize(spark, docs, "graft_mtdspec")
    val before = spark.table(tn.clusters).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_members"))
      .toMap
    assert(before === Map(10L -> 3L, 11L -> 2L),
      s"fixture drift: expected clusters {10:3, 11:2}, got $before")

    // canonical migration: delete the keep-first winner only
    TakedownOps.takedownMedia(spark, Seq(10L).toDF("doc_id"), "graft_mtdspec")
    val mid = spark.table(tn.clusters).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_members"))
      .toMap
    assert(mid === Map(107L -> 2L, 11L -> 2L),
      s"the cluster minimum must migrate to the surviving min: $mid")
    assert(spark.table(tn.sigs).count() === 3L,
      "key 10 still has survivors — its fingerprint must stay")

    // content takedown: remove key 10's remaining owners AND one of
    // key 11's — the 10-cluster and its fingerprint must retire, the
    // 11-cluster drops below 2 members and leaves (fingerprint stays)
    TakedownOps.takedownMedia(spark,
      Seq(107L, 204L, 11L).toDF("doc_id"), "graft_mtdspec")
    assert(spark.table(tn.clusters).isEmpty,
      "no multi-member cluster survives")
    val keysLeft = spark.table(tn.sigs).collect()
      .map(_.getAs[Long]("media_key")).toSet
    assert(keysLeft === Set(11L % 97, 5L),
      s"only keys with surviving owners keep fingerprints: $keysLeft")
    assert(spark.table(tn.keyed).collect().map(_.getLong(0)).toSet ===
      Set(108L, 5L))

    // swept state == from-scratch materialization on survivors
    val surv = Seq(108L, 5L).toDF("doc_id")
    TakedownOps.mediaMaterialize(spark, surv, "graft_mtdspec2")
    def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    assert(rows(tn.keyed) === rows("graft_mtdspec2_mkeyed"))
    assert(rows(tn.sigs) === rows("graft_mtdspec2_msigs"))
    assert(rows(tn.clusters) === rows("graft_mtdspec2_mclusters"))
  }

  test("media append: known payloads skip the decode, clusters equal from-scratch") {
    // keys mod 97: base docs 10/107 share key 10; batch doc 204 is a
    // re-upload of key 10 (already fingerprinted — no decode), batch
    // doc 205 brings NEW key 11
    val base = Seq(10L, 107L).toDF("doc_id")
    val batch = Seq(204L, 205L).toDF("doc_id")
    val tn = TakedownOps.mediaMaterialize(spark, base, "graft_maspec")
    assert(spark.table(tn.sigs).count() === 1L)
    TakedownOps.appendToMedia(spark, batch, "graft_maspec")
    assert(spark.table(tn.sigs).count() === 2L,
      "exactly the one never-seen payload must gain a fingerprint")
    val clusters = spark.table(tn.clusters).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_members"))
      .toMap
    assert(clusters === Map(10L -> 3L),
      s"the re-upload must grow the stored cluster: $clusters")
    // equals a from-scratch materialization of the union, row for row
    TakedownOps.mediaMaterialize(spark, base.unionByName(batch),
      "graft_maspec2")
    def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
    assert(rows(tn.keyed) === rows("graft_maspec2_mkeyed"))
    assert(rows(tn.sigs) === rows("graft_maspec2_msigs"))
    assert(rows(tn.clusters) === rows("graft_maspec2_mclusters"))
    // freshness contract
    val e = intercept[IllegalArgumentException] {
      TakedownOps.appendToMedia(spark, Seq(50L).toDF("doc_id"),
        "graft_maspec")
    }
    assert(e.getMessage.contains("interleaves"))
    // intra-batch duplicate: passes the ordering check, would append
    // the same ownership row twice (ADVICE r15)
    val e2 = intercept[IllegalArgumentException] {
      TakedownOps.appendToMedia(spark, Seq(300L, 300L).toDF("doc_id"),
        "graft_maspec")
    }
    assert(e2.getMessage.contains("duplicated"))
  }

  test("media append: a cross-payload fingerprint collision widens the group recompute to sibling keys") {
    // keys mod 97: base docs 5/102 carry key 5, 12/109 carry key 12 —
    // two DISTINCT payloads. Plant the cross-payload fingerprint
    // collision the cluster tier exists for (q293's premise; the
    // production fixture can't produce one — keys < 97 map injectively
    // to their pattern signature): overwrite key 12's stored
    // fingerprint with key 5's signature so both keys live in ONE
    // signature group, and rebuild the stored cluster relation to
    // match. A batch then re-uploads key 5 only. The append's group
    // recompute must include key 12's owners — pruning the recompute
    // by the batch's media_keys alone drops the sibling's members
    // while the kept-side anti-join still removes the stored group
    // row (ADVICE r15).
    val base = Seq(5L, 102L, 12L, 109L).toDF("doc_id")
    val tn = TakedownOps.mediaMaterialize(spark, base, "graft_mcolspec")
    val sigCols = Seq("format", "width", "height", "resized_sum")
    val sigsCols = spark.table(tn.sigs).columns.toSeq
    val sig5 = spark.table(tn.sigs).where(col("media_key") === 5L)
      .select(sigCols.map(col): _*)
    // re-keying the planted row must RE-BUCKET it too (sb derives from
    // media_key) — the maintenance paths prune reads by partition, so a
    // mis-bucketed row would silently vanish from every pruned scan
    val planted = spark.table(tn.sigs).where(col("media_key") =!= 12L)
      .unionByName(sig5.withColumn("media_key", lit(12L))
        .withColumn("sb", pmod(col("media_key"), lit(16L)).cast("int"))
        .select(sigsCols.map(col): _*))
      .localCheckpoint(true)
    spark.sql(s"DROP TABLE IF EXISTS ${tn.sigs}")
    planted.write.format("parquet").partitionBy("sb").saveAsTable(tn.sigs)
    def rebuildClusters() =
      spark.table(tn.keyed).join(spark.table(tn.sigs), Seq("media_key"))
        .groupBy(sigCols.map(col): _*)
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_members"))
        .where(col("n_members") >= 2)
    val consistent = rebuildClusters()
      .withColumn("cb",
        pmod(xxhash64(sigCols.map(col): _*), lit(16L)).cast("int"))
      .localCheckpoint(true)
    spark.sql(s"DROP TABLE IF EXISTS ${tn.clusters}")
    consistent.write.format("parquet").partitionBy("cb")
      .saveAsTable(tn.clusters)
    def clusterMap() = spark.table(tn.clusters).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_members"))
      .toMap
    assert(clusterMap() === Map(5L -> 4L),
      s"planted fixture: one fused group of 4, got ${clusterMap()}")
    // batch re-uploads key 5 only (199 % 97 == 5); key 12's owners are
    // SIBLINGS in the fused group and must survive the recompute
    TakedownOps.appendToMedia(spark, Seq(199L).toDF("doc_id"),
      "graft_mcolspec")
    assert(clusterMap() === Map(5L -> 5L),
      "append must recompute the WHOLE signature group, colliding " +
        s"sibling's members included: ${clusterMap()}")
    // and the stored relation equals a from-scratch rebuild on the
    // stored keyed × sigs tables, row for row (partition column aside)
    val cluCols = (sigCols :+ "canonical_id" :+ "n_members").map(col)
    assert(spark.table(tn.clusters).select(cluCols: _*)
        .collect().map(_.toSeq).toSet ===
      rebuildClusters().select(cluCols: _*).collect().map(_.toSeq).toSet)
  }

  private def dataFiles(tbl: String): Map[String, Long] = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(loc, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        b += f.getPath.toString -> f.getModificationTime
    }
    b.result()
  }

  test("surgical maintenance: untouched buckets' data files do not move (cluster + media tiers)") {
    // cluster tier: delete the chain's tail (13). Affected component =
    // {11,12,13}; docs 14/15 are other components in other pb buckets —
    // their files must be byte-for-byte the same files afterwards.
    val kt = TakedownOps.clustersMaterializeWithProvenance(
      spark, clusterDocs, "graft_immspec")
    val before = dataFiles(kt.clusters)
    val beforeDb = dataFiles(kt.dbuckets)
    TakedownOps.takedownClusters(spark, Seq(13L).toDF("doc_id"),
      "graft_immspec")
    val after = dataFiles(kt.clusters)
    val afterDb = dataFiles(kt.dbuckets)
    def untouched(m: Map[String, Long], pbs: Seq[String]) =
      m.filter { case (p, _) => pbs.exists(p.contains) }
    // pb = doc_id % 16: docs 14, 15 live alone in pb=14 / pb=15
    val keepCl = untouched(before, Seq("pb=14", "pb=15"))
    assert(keepCl.nonEmpty, "fixture drift: expected files in pb=14/15")
    assert(keepCl.forall { case (p, t) => after.get(p).contains(t) },
      "untouched cluster buckets' files must not move across a takedown")
    assert(untouched(beforeDb, Seq("pb=14"))
        .forall { case (p, t) => afterDb.get(p).contains(t) },
      "untouched dbuckets files must not move across a takedown")
    // the affected bucket WAS rewritten (the deleted doc's row is gone)
    assert(spark.table(kt.clusters).where(col("doc_id") === 13L).isEmpty)
    assert(clusterSet(spark.table(kt.clusters)) ===
      clusterSet(DedupOps.starClusters(
        clusterDocs.where(col("doc_id") =!= 13L))),
      "surgical rewrite must still produce the exact survivor closure")

    // media tier: deleting doc 10 touches pb=10 only on the ownership
    // relation; the other owners' buckets must not move
    val mt = TakedownOps.mediaMaterialize(
      spark, Seq(10L, 107L, 204L, 11L, 108L, 5L).toDF("doc_id"),
      "graft_immspec_m")
    val beforeK = dataFiles(mt.keyed)
    TakedownOps.takedownMedia(spark, Seq(10L).toDF("doc_id"),
      "graft_immspec_m")
    val afterK = dataFiles(mt.keyed)
    val keepK = beforeK.filterNot { case (p, _) => p.contains("pb=10") }
    assert(keepK.nonEmpty)
    assert(keepK.forall { case (p, t) => afterK.get(p).contains(t) },
      "untouched ownership buckets' files must not move across a takedown")
  }

  test("ANN takedown: zero residue, row- and serve-identical to a frozen rebuild") {
    val v = SimilarityOps.vectors(spark, sf)
    AnnIndexOps.buildResidualIndex(spark, v, "graft_tdspecann")
    val q = v.where(col("vec_id") === 7L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pre = AnnIndexOps.serveTopK(spark, q, "graft_tdspecann").collect()
    val top1 = pre.find(_.getInt(1) == 1).get.getLong(2)

    AnnIndexOps.takedownIndex(spark, "graft_tdspecann",
      Seq(top1).toDF("vec_id"))
    assert(spark.table("graft_tdspecann_codes")
      .where(col("vec_id") === top1).isEmpty)
    assert(spark.table("graft_tdspecann_vectors")
      .where(col("vec_id") === top1).isEmpty)

    AnnIndexOps.rebuildWithFrozen(spark, v.where(col("vec_id") =!= top1),
      "graft_tdspecann", "graft_tdspecannrb")
    val codes = spark.table("graft_tdspecann_codes")
    val rbCodes = spark.table("graft_tdspecannrb_codes")
    assert(codes.exceptAll(rbCodes).isEmpty && rbCodes.exceptAll(codes).isEmpty,
      "swept codes must equal re-encoding the survivors")
    val vecs = spark.table("graft_tdspecann_vectors")
    val rbVecs = spark.table("graft_tdspecannrb_vectors")
    assert(vecs.exceptAll(rbVecs).isEmpty && rbVecs.exceptAll(vecs).isEmpty)

    val post = AnnIndexOps.serveTopK(spark, q, "graft_tdspecann").collect()
    assert(!post.exists(_.getLong(2) == top1),
      "the deleted vector must never be served again")
    val rbServe = AnnIndexOps.serveTopK(spark, q, "graft_tdspecannrb").collect()
    assert(post.toSeq == rbServe.toSeq,
      "swept serve must equal the rebuild's serve")
  }
}
