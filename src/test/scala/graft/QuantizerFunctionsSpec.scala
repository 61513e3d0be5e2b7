package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{FrozenCentroids, FrozenCodebooks, QuantizerFunctions, VectorFunctions}
import graft.ops.SimilarityOps

/** The fused quantizer kernels (argmax-cell, top-n cells, PQ encode) are
  * bit-identical to the relational formulations they replaced: a
  * broadcast join of every row against every centroid or codeword, then
  * a `max_by`, a row_number window or a (dist, code) argmin. Each case
  * plants the orders' edge cases — tied, null and NaN similarities, a
  * tie at the top-n cut, tied codeword distances — and runs both the
  * generated-code and the interpreted path.
  */
class QuantizerFunctionsSpec extends SparkSpec {

  private val vecSchema = StructType.fromDDL("vec_id BIGINT, v ARRAY<DOUBLE>")

  /** 120 real vectors (parquet-backed, so the kernels run in generated
    * code) plus a null vector, a zero vector (cosine 0 to every
    * centroid) and a vector holding a NaN (NaN cosine to every centroid). */
  private lazy val vecs: DataFrame = {
    val planted = Seq(Row(9000L, null), Row(9001L, Seq.fill(64)(0.0)),
      Row(9002L, Seq.fill(63)(0.5) :+ Double.NaN))
    SimilarityOps.vectors(spark, sf).where(col("vec_id") < 120)
      .select(col("vec_id"), col("v"))
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(planted: _*), vecSchema))
  }

  private def realVec(id: Long): Seq[Double] =
    SimilarityOps.vectors(spark, sf).where(col("vec_id") === id)
      .select(col("v")).head().getSeq[Double](0)

  /** Cells 0..5 are real vectors; cell 7 repeats cell 2 and cell 13
    * repeats cell 5 (tied similarities, the smaller cell must win);
    * cell 9 has no vector (a null similarity); with `nan`, cell 11 holds a
    * NaN (a NaN similarity, above every number in Spark's order). */
  private def centroids(nan: Boolean): DataFrame = {
    val real = (0 to 5).map(i => (i, realVec(200L + i)))
    val rows = real.map { case (c, v) => Row(c, v) } ++ Seq(
      Row(7, real(2)._2), Row(13, real(5)._2), Row(9, null)) ++
      (if (nan) Seq(Row(11, real(1)._2.updated(3, Double.NaN))) else Nil)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL("cell INT, cv ARRAY<DOUBLE>"))
  }

  private def frozen(c: DataFrame) = FrozenCentroids.of(c.collect().toSeq)

  private def scored(c: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(c))
      .withColumn("csim", VectorFunctions.cosineSim(col("v"), col("cv")))

  /** Both the whole-stage-codegen and the interpreted evaluation. */
  private def bothPaths(body: => Unit): Unit = {
    body
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("argmax-cell == broadcast join + max_by over tied, null and NaN similarities") {
    for (nan <- Seq(false, true)) {
      val c = centroids(nan)
      val relational = scored(c).groupBy("vec_id")
        .agg(max_by(col("cell"), struct(
          coalesce(col("csim"), lit(Double.NegativeInfinity)), -col("cell")))
          .as("cell"))
        .orderBy("vec_id").collect().toSeq
      val fz = frozen(c)
      bothPaths {
        val fused = vecs
          .select(col("vec_id"), QuantizerFunctions.nearestCell(col("v"), fz).as("cell"))
          .orderBy("vec_id").collect().toSeq
        assert(fused === relational, s"argmax-cell diverged (NaN centroid: $nan)")
      }
      if (!nan) assert(relational.map(_.getInt(1)).toSet.subsetOf(Set(0, 1, 2, 3, 4, 5)),
        "a tied duplicate centroid must lose to the smaller cell")
      else assert(relational.count(_.getInt(1) == 11) > 100,
        "a NaN similarity must rank above every number")
    }
  }

  test("top-n cells == broadcast join + row_number window, with a tie at the cut") {
    // every centroid twice (cell i and i + 10): ranks come in tied pairs,
    // so at n = 3 the cut falls inside a tied pair for every vector
    val real = (0 to 5).map(i => (i, realVec(200L + i)))
    val twins = spark.createDataFrame(java.util.Arrays.asList(
        (real ++ real.map { case (c, v) => (c + 10, v) } :+ (20, null))
          .map { case (c, v) => Row(c, v) }: _*),
      StructType.fromDDL("cell INT, cv ARRAY<DOUBLE>"))
    for (c <- Seq(twins, centroids(nan = true)); n <- Seq(1, 3, 8, 40)) {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
      val relational = scored(c).withColumn("crnk", row_number().over(w))
        .where(col("crnk") <= n)
        .select(col("vec_id"), col("crnk").cast("int"), col("cell"))
        .orderBy("vec_id", "crnk").collect().toSeq
      val fz = frozen(c)
      bothPaths {
        val fused = vecs
          .select(col("vec_id"), posexplode(QuantizerFunctions.topCells(col("v"), fz, n)))
          .select(col("vec_id"), (col("pos") + 1).as("crnk"), col("col").as("cell"))
          .orderBy("vec_id", "crnk").collect().toSeq
        assert(fused === relational, s"top-$n cells diverged")
      }
    }
  }

  test("PQ encode == residual zip_with + subvector explode + (dist, code) argmin, with tied distances") {
    val (m, subDim) = (8, 8)
    val c = centroids(nan = false).where(col("cv").isNotNull)
    // 6 codewords per subspace from real subvectors, each repeated under
    // code + 6 (tied distances: the smaller code must win), plus a null
    // codeword in subspace 0 (a null distance, below every number)
    val sub = posexplode(expr(
      s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $subDim + 1, $subDim))"))
    val words = SimilarityOps.vectors(spark, sf).where(col("vec_id").between(300, 305))
      .select((col("vec_id") - 300).cast("int").as("code"), sub.as(Seq("sub", "cv")))
    val books = words.unionByName(words.withColumn("code", col("code") + 6))
      .select(col("sub"), col("code"), col("cv"))
    val withNull = books.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(Row(0, 99, null)),
      StructType.fromDDL("sub INT, code INT, cv ARRAY<DOUBLE>")))
    val fc = frozen(c)
    val assigned = vecs
      .select(col("vec_id"), col("v"),
        QuantizerFunctions.nearestCell(col("v"), fc).as("cell"))
      .localCheckpoint(true)
    for (b <- Seq(books, withNull)) {
      val relational = assigned.join(broadcast(c), Seq("cell"))
        .select(col("vec_id"), expr("zip_with(v, cv, (p, q) -> p - q)").as("v"))
        .select(col("vec_id"), sub.as(Seq("sub", "sv")))
        .join(broadcast(b), Seq("sub"))
        .withColumn("dist", VectorFunctions.l2Sq(col("sv"), col("cv")))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("dist"), col("code"))).as("mn"))
        .select(col("vec_id"), col("sub"), col("mn.code").as("code"))
        .orderBy("vec_id", "sub").collect().toSeq
      val fb = FrozenCodebooks.of(b.collect().toSeq, m)
      bothPaths {
        val fused = assigned
          .select(col("vec_id"), posexplode(QuantizerFunctions.pqEncode(
            col("v"), col("cell"), fc, fb, subDim)).as(Seq("sub", "code")))
          .orderBy("vec_id", "sub").collect().toSeq
        assert(fused === relational, "PQ encode diverged")
      }
      // fixture: ties go to the first copy of each codeword, and a null
      // codeword distance ranks below every number
      assert(relational.forall(r =>
          if (b eq withNull) (r.getInt(1) == 0) == (r.getInt(2) == 99) || r.getLong(0) == 9000L
          else r.getInt(2) < 6),
        "fixture drift: tied codewords or the null codeword resolved unexpectedly")
    }
  }

  test("the fused kernels compile to calls into their shared entry points") {
    val fz = frozen(centroids(nan = false))
    val df = vecs.select(QuantizerFunctions.nearestCell(col("v"), fz).as("c"),
      QuantizerFunctions.topCells(col("v"), fz, 3).as("t"))
    df.collect()
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("NearestCell.argmax") && gen.contains("TopCells.top"),
      s"expected generated calls into the kernels:\n${gen.take(2000)}")
    assert(gen.contains("references[") &&
        !gen.contains(fz.vecs(0).getDouble(0).toString),
      "centroid values must ride in references[], not in the generated source")
  }
}
