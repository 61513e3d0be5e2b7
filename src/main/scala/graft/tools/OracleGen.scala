package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.util.LocalSession

/** Generates the checked-in literal golden oracles
  * (src/main/resources/oracle/<query>.sql) for the deterministic
  * engine-side queries that ANSI SQL cannot recompute from the tables
  * (seeded RNG, xxhash64 families, seeded hyperplanes/centroids, HLL
  * sketch, stub decode). Each golden is a DuckDB VALUES query with the
  * column names and types cast to match the Spark output exactly; the
  * per-operator ScalaTest specs (DedupSpec, SimilaritySpec,
  * TextMultimodalSpec, PipelineSpec) vet the semantics the goldens
  * freeze. Regenerate after any intentional algorithm change:
  *   sbt "runMain graft.tools.OracleGen /root/testdata/sf0.01"
  */
object OracleGen {
  val targets: Seq[String] = Seq(
    "q04_datagen", "q24_dedup_minhash", "q25_dedup_simhash", "q28_ann_lsh",
    "q38_multimodal_decode", "q43_embed_neardup",
    "q47_ann_ivf", "q51_dedup_clusters", "q118_semdedup",
    "q281_pq_encode", "q282_pq_adc", "q289_hard_negatives",
    "q290_quality_survivors", "q303_ivf_pq", "q309_ivf_pq_residual",
    "q313_ivf_rebalance", "q319_mmr_topk", "q324_minhash_calibration",
    "q329_paragraph_dedup", "q330_ann_append",
    "q332_paragraph_scrub", "q334_ann_recall",
    "q339_ann_filtered", "q340_soft_dedup",
    "q343_banding_sweep", "q348_curated_corpus", "q349_binary_ann",
    "q350_takedown", "q354_probes_sweep", "q356_ann_takedown_replay",
    "q357_curated_lifecycle", "q358_deep_takedown",
    "q359_takedown_recall", "q363_fat_cell_split",
    "q364_hybrid_retrieval", "q365_media_takedown",
    "q372_cluster_lifecycle", "q373_stack_takedown",
    "q375_hybrid_eval", "q377_ann_census_split_replay")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outBase = if (args.length > 1) args(1) else "src/main/resources/oracle"
    // optional 3rd arg: comma list restricting WHICH goldens to
    // regenerate (a new query's fixture lands without rewriting — and
    // risking accidental drift in — the 13 vetted existing ones)
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    // fail fast on typos: a silently-ignored unknown name would exit
    // success having regenerated NOTHING, leaving a stale golden that
    // looks freshly refreshed (ADVICE r12)
    only.foreach { o =>
      val unknown = o -- targets.toSet
      require(unknown.isEmpty,
        s"unknown golden target(s): ${unknown.toSeq.sorted.mkString(",")}" +
          s" — known: ${targets.mkString(",")}")
    }
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outBase))

    def duck(t: DataType): String = t match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case StringType => "VARCHAR"
      case other => sys.error(s"unsupported golden-oracle type $other")
    }
    def sqlLit(v: Any): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      // EVERY double goes through a quoted string, not a bare literal:
      // DuckDB types a bare decimal token in VALUES as DECIMAL and the
      // later CAST(... AS DOUBLE) rounds decimal->double, which can land
      // one ULP off the Java value for non-terminating decimals (seen on
      // q38's channel means); a VARCHAR->DOUBLE cast is a correctly-
      // rounded parse of the shortest round-trip repr, bit-exact both
      // ways. Also covers NaN/Infinity, which are not valid bare tokens.
      case d: Double => "'" + d + "'"
      case x => x.toString
    }

    targets.filter(n => only.forall(_.contains(n))).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val schema = df.schema
      val rows = df.collect()
      spark.catalog.clearCache()
      require(rows.nonEmpty, s"$name produced no rows — refusing to freeze")
      val cols = schema.fields.map(_.name)
      val proj = schema.fields
        .map(f => s"CAST(${f.name} AS ${duck(f.dataType)}) AS ${f.name}")
        .mkString(", ")
      val values = rows
        .map(r => cols.indices.map(i => sqlLit(r.get(i))).mkString("(", ",", ")"))
        .mkString(",\n  ")
      val sql = s"SELECT $proj\nFROM (VALUES\n  $values\n) t(${cols.mkString(", ")})"
      Files.writeString(Paths.get(s"$outBase/$name.sql"), sql)
      println(s"[oraclegen] $name: ${rows.length} rows -> $outBase/$name.sql")
    }
    spark.stop()
  }
}
