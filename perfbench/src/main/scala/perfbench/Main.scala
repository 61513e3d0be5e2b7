package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{AnnIndexOps, ExtendedOps, ReferenceOps, RelationalOps, SimilarityOps, WarehouseOps}
import graft.streaming.StreamingAnnMaintain

/** The benchmark's JVM: one session, one closed-loop client.
  *
  * `run.py` launches it once per run and reads back the JSON file it
  * writes: set-up times, one record per timed operation, and with
  * `--trace 1` the raw listener records. Metrics are computed in run.py.
  *
  * Usage: Main --workload analytic|maintain --seed N --seconds S
  *   --trace 0|1 --cpus N --data <dir of the sf0.01 tables> --root <run root>
  *   --out <result.json> --expected <expected.json>
  *   [--record <dir>]   (analytic only: write fingerprints and result dumps)
  */
object Main {

  /** One timed operation. `prepare` makes its input and is not timed;
    * `write` is the operation's write into graft, if it has one; `build`
    * is the call into graft up to the returned frame; the frame is then
    * collected and `check` returns an error message, if any. The check
    * runs after the operation's time span and outside its job group, so
    * its Spark jobs are not counted as graft's.
    */
  final case class Op(name: String, prepare: () => Unit, write: () => Unit,
      build: () => DataFrame, check: (StructType, Array[Row]) => Option[String])

  /** The timed region runs whole passes of `passSize` operations until
    * the run's seconds have passed or `maxOps` operations have run. */
  final case class Workload(passSize: Int, op: Int => Op, after: () => Map[String, Any],
      maxOps: Int = Int.MaxValue)

  private val mapper = new ObjectMapper()
  private val epochMs = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val cpus = args("cpus").toInt
    val root = args("root")
    val t0 = nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setup = scala.collection.mutable.LinkedHashMap[String, Any](
      "session_start_s" -> (nowMs - t0) / 1e3)

    if (args.contains("record")) {
      record(spark, args("data"), args("record"))
      spark.stop()
      return
    }
    val wl = workload match {
      case "analytic" => analytic(spark, args("data"), seed, args("expected"), setup)
      case "maintain" => maintain(spark, args("data"), seed, root, setup)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = timedRegion(spark, wl, args("seconds").toDouble, args("trace") == "1")
    val result = Map("workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "master" -> s"local[$cpus]", "setup" -> setup.toMap,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime) ++ out ++ wl.after()
    mapper.writeValue(new File(args("out")), toJava(result))
    spark.stop()
  }

  private def timedRegion(spark: SparkSession, wl: Workload, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach { r =>
      sc.addSparkListener(r.sparkListener)
      spark.streams.addListener(r)
    }
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    var heapPeak = 0L
    def sampleHeap(): Unit = oldGen.flatMap(p => Option(p.getCollectionUsage))
      .foreach(u => heapPeak = math.max(heapPeak, u.getUsed))
    spark.catalog.clearCache()
    System.gc()
    graft.plans.WindowGuard.drain(spark)
    val ops = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val start = nowMs
    var k = 0
    while (k % wl.passSize != 0 || (nowMs - start < seconds * 1e3 && k < wl.maxOps)) {
      val op = wl.op(k)
      op.prepare()
      sc.setJobGroup(s"perfbench-op-$k", op.name, interruptOnCancel = false)
      val cpu0 = os.getProcessCpuTime
      val s = nowMs
      var written = s
      var built = s
      val result =
        try {
          op.write()
          written = nowMs
          val df = op.build()
          built = nowMs
          Right((df.schema, df.collect()))
        } catch { case NonFatal(ex) => Left(ex) }
      val e = nowMs
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      sc.clearJobGroup()
      val err = result match {
        case Right((schema, rows)) =>
          val wrong =
            try op.check(schema, rows)
            catch { case NonFatal(ex) => Some(s"check failed: $ex") }
          wrong.foreach(m => System.err.println(s"[perfbench] WRONG ${op.name}: $m"))
          wrong
        case Left(ex) =>
          System.err.println(s"[perfbench] FAILED ${op.name}: $ex")
          Some(ex.toString)
      }
      ops += Map("i" -> k, "name" -> op.name, "start_ms" -> s, "written_ms" -> written,
        "built_ms" -> built, "end_ms" -> e, "cpu_s" -> cpu, "ok" -> err.isEmpty,
        "error" -> err.orNull)
      // the listener-bus backlog is not the operation's heap: drain it
      // before the GC whose occupancy is sampled. Only this full GC is
      // sampled: a full GC inside an operation happens in some runs and
      // not in others, and sampling it made the peak bimodal (109 MB or
      // 127-141 MB on maintain, same code and seeds)
      graft.plans.WindowGuard.drain(spark)
      spark.catalog.clearCache()
      System.gc()
      sampleHeap()
      k += 1
    }
    val end = nowMs
    graft.plans.WindowGuard.drain(spark)
    Map("timed" -> Map("start_ms" -> start, "end_ms" -> end), "ops" -> ops.toSeq,
      "pass_size" -> wl.passSize,
      "heap_peak_mb" -> heapPeak / 1048576.0) ++
      recorder.map(r => "trace" -> r.snapshot()).toMap
  }

  // ---------------------------------------------------------------- analytic

  /** Every fifth of the 77 reference, relational, warehouse and extended
    * queries in name order, from the fourth: 15 queries that keep the mix
    * of the 77, fit a warm-up pass and a timed pass into a run, and include
    * two table writes (q42's medallion round trip, q62's bucketed tables),
    * so the catalog and the storage write path are exercised too. */
  private def analyticDefs = (ReferenceOps.defs ++ RelationalOps.defs ++
    WarehouseOps.defs ++ ExtendedOps.defs).sortBy(_.name).grouped(5).flatMap(_.lift(3)).toSeq

  /** The warm-up is one untimed pass in the same order: a query's first
    * run in a JVM pays JIT and code generation for whatever ran before it
    * did not, so cold latencies depend on the order more than on the query. */
  private def analytic(spark: SparkSession, dir: String, seed: Long,
      expectedPath: String, setup: scala.collection.mutable.Map[String, Any]): Workload = {
    val expected = mapper.readTree(new File(expectedPath)).get("analytic")
    val defs = new Random(seed).shuffle(analyticDefs)
    val w0 = nowMs
    defs.foreach { q =>
      try q.fn(spark, dir).collect()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up ${q.name}: $e") }
      spark.catalog.clearCache()
    }
    setup("session_warm_s") = (nowMs - w0) / 1e3
    Workload(defs.size, k => {
      val q = defs(k % defs.size)
      val want = Option(expected.get(q.name)).map(_.asText)
      Op(q.name, () => (), () => (), () => q.fn(spark, dir), (schema, rows) => {
        val got = Fingerprint.of(schema, rows.toSeq)
        if (want.contains(got)) None else Some(s"fingerprint $got, expected ${want.orNull}")
      })
    }, () => Map.empty)
  }

  /** Expected values for `analytic`: each query once, in name order. The
    * fingerprints go to `<dir>/fingerprints.json`; each result is dumped
    * as parquet next to `oracle_sql.json` (the layout tools/oracle_check.py
    * reads) for the queries whose oracle computes from the tables. */
  private def record(spark: SparkSession, dir: String, outDir: String): Unit = {
    val fps = scala.collection.mutable.LinkedHashMap[String, String]()
    val oracles = scala.collection.mutable.LinkedHashMap[String, String]()
    analyticDefs.foreach { q =>
      val df = q.fn(spark, dir)
      val rows = df.collect()
      fps(q.name) = Fingerprint.of(df.schema, rows.toSeq)
      val literal = getClass.getResource(s"/oracle/${q.name}.sql") != null
      q.oracle.filterNot(_ => literal).foreach { sql =>
        oracles(q.name) = sql
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(s"$outDir/${q.name}")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    mapper.writeValue(new File(s"$outDir/fingerprints.json"), toJava(fps.toMap))
    mapper.writeValue(new File(s"$outDir/oracle_sql.json"), toJava(oracles.toMap))
  }

  // ---------------------------------------------------------------- maintain

  private val BatchVectors = 20
  private val TopK = 5
  private val WarmBatches = 4
  private val PassOps = 4
  private val MaxPasses = 2

  /** q351's traffic: real embeddings held out from the index build arrive
    * as deltas. The index is built on a seeded 260 of the 500 embeddings;
    * the other 240 arrive in seeded batches of 20: one untimed warm-up
    * pass, then at most two passes of four timed operations (the index
    * ends at all 500). One operation lands a batch, streams it
    * into the stored index through `StreamingAnnMaintain` (one
    * `AvailableNow` micro-batch: the write), then serves the batch's
    * vectors as top-5 queries from the grown index with
    * `AnnIndexOps.serveTopK`, every fourth operation behind a seeded
    * label pre-filter (the serve): the write side and the read side of
    * one maintained table.
    */
  private def maintain(spark: SparkSession, dir: String, seed: Long, root: String,
      setup: scala.collection.mutable.Map[String, Any]): Workload = {
    val prefix = "perfbench_ann"
    val (landing, ckpt) = (s"$root/maint/landing", s"$root/maint/checkpoint")
    val schema = StructType.fromDDL("vec_id BIGINT, label INT, v ARRAY<DOUBLE>")
    val qSchema = StructType.fromDDL("q_id BIGINT, qv ARRAY<DOUBLE>")
    val corpus = SimilarityOps.vectors(spark, dir)
    val all = corpus.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(_._1)
    val rng = new Random(seed)
    val heldOut = rng.shuffle(all.toSeq)
      .take((WarmBatches + MaxPasses * PassOps) * BatchVectors)
      .grouped(BatchVectors).toIndexedSeq
    val heldIds = heldOut.flatten.map(_._1).toSet
    val base = all.filterNot(v => heldIds.contains(v._1))
    val b0 = nowMs
    AnnIndexOps.buildResidualIndex(spark,
      corpus.where(!col("vec_id").isin(heldIds.toSeq: _*)), prefix)
    setup("index_build_s") = (nowMs - b0) / 1e3
    val labels = all.map(_._2).distinct.sorted.toSeq
    val filters = heldOut.indices.map(_ => rng.shuffle(labels).take(5).sorted)
    val indexed = scala.collection.mutable.ArrayBuffer[(Long, Int, Seq[Double])]() ++ base
    // (query vectors, vectors eligible when served, served rows)
    val served = scala.collection.mutable.ArrayBuffer[
      (Seq[(Long, Seq[Double])], Seq[(Long, Int, Seq[Double])], Array[Row])]()

    // batch k is held-out batch k + WarmBatches; the negative ones warm up
    def batch(k: Int): Op = {
      val arriving = heldOut(k + WarmBatches)
      val filter = if (Math.floorMod(k, PassOps) == PassOps - 1) Some(filters(k + WarmBatches))
        else None
      def land(): Unit = {
        spark.createDataFrame(arriving.map(f => Row(f._1, f._2, f._3)).asJava, schema)
          .coalesce(1).write.mode("append").parquet(landing)
        indexed ++= arriving
      }
      def write(): Unit =
        StreamingAnnMaintain.maintainAvailableNow(spark, landing, prefix, ckpt, schema)
          .awaitTermination()
      def serve(): DataFrame = {
        val queries = spark.createDataFrame(arriving.map(f => Row(f._1, f._3)).asJava, qSchema)
        AnnIndexOps.serveTopK(spark, queries, prefix, topK = TopK, labels = filter)
      }
      def check(rows: Array[Row]): Option[String] = {
        val ids = spark.table(AnnIndexOps.tables(prefix).vectors).select("vec_id")
          .collect().map(_.getLong(0))
        val eligible = indexed.filter(v => filter.forall(_.contains(v._2))).toSeq
        served += ((arriving.map(f => (f._1, f._3)), eligible, rows))
        val byQ = rows.groupBy(_.getAs[Long]("q_id"))
        if (ids.length != indexed.size || ids.toSet != indexed.map(_._1).toSet)
          Some(s"index holds ${ids.length} vectors, expected the ${indexed.size} landed")
        else arriving.flatMap { case (q, label, _) =>
          val got = byQ.getOrElse(q, Array.empty[Row]).map(_.getAs[Long]("vec_id"))
          val want = math.min(TopK, eligible.size - (if (filter.forall(_.contains(label))) 1 else 0))
          if (got.length != want) Some(s"q_id $q: ${got.length} rows, expected $want")
          else if (got.contains(q)) Some(s"q_id $q: served itself")
          else None
        }.headOption
      }
      Op(s"ann-ingest-serve${if (filter.isDefined) "-filtered" else ""}", () => land(),
        () => write(), () => serve(), (_, rows) => check(rows))
    }
    // a whole untimed pass warms the streaming path, both serve paths and
    // the pinned-property caches: with only two warm-up operations the
    // first timed ones were still up to 30% slower than the last
    val w0 = nowMs
    (-WarmBatches until 0).map(batch).foreach { w =>
      w.prepare()
      w.write()
      w.check(qSchema, w.build().collect())
        .foreach(m => throw new IllegalStateException(s"warm-up batch: $m"))
    }
    served.clear()
    setup("session_warm_s") = (nowMs - w0) / 1e3
    Workload(PassOps, batch, () => Map("recall_at_5" -> recall(spark, qSchema, served.toSeq)),
      maxOps = MaxPasses * PassOps)
  }

  /** Mean overlap of each served top-5 with the exact top-5 from
    * `SimilarityOps.bruteForceTopK` over the vectors that were eligible
    * when it was served; computed after the timed region. */
  private def recall(spark: SparkSession, qSchema: StructType,
      served: Seq[(Seq[(Long, Seq[Double])], Seq[(Long, Int, Seq[Double])], Array[Row])]): Double = {
    val schema = StructType.fromDDL("vec_id BIGINT, label INT, v ARRAY<DOUBLE>")
    val overlaps = served.flatMap { case (qs, eligible, rows) =>
      val queries = spark.createDataFrame(qs.map(q => Row(q._1, q._2)).asJava, qSchema)
      val corpus = spark.createDataFrame(eligible.map(v => Row(v._1, v._2, v._3)).asJava, schema)
      val exact = SimilarityOps.bruteForceTopK(corpus, queries, TopK).collect()
        .groupBy(_.getAs[Long]("q_id"))
      val got = rows.groupBy(_.getAs[Long]("q_id"))
      qs.map(_._1).map { q =>
        val want = exact.getOrElse(q, Array.empty[Row]).map(_.getAs[Long]("vec_id")).toSet
        val have = got.getOrElse(q, Array.empty[Row]).map(_.getAs[Long]("vec_id")).toSet
        if (want.isEmpty) 1.0 else (want & have).size.toDouble / want.size
      }
    }
    if (overlaps.isEmpty) 0.0 else overlaps.sum / overlaps.size
  }

  // -------------------------------------------------------------------- JSON

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case other => other
  }
}
