package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, InvariantOps}
import graft.util.LocalSession
import graft.util.Tables._

/** Dev helper: break down where the q56/q51 wall-clock goes. Not part of
  * the graded surface.
  */
object ProfileGate {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    spark.range(1000000).selectExpr("sum(id)").collect()

    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      val docs = t(spark, sfDir, "documents").cache()
      time("docs cache+count")(docs.count())
      time("minhashAssign alone")(DedupOps.minhashAssign(docs).count())

      // step-by-step replica of minhashTiers internals
      val sigs = time("signatures count")(
        DedupOps.minhashSignatures(docs, 64).count())
      val wm = time("withMin cache+count") {
        val w = graft.tools.ProfileGateInternals.withMin(docs).cache()
        w.count(); w
      }
      val edges = wm.where(col("doc_id") =!= col("bucket_min"))
        .select(col("doc_id").as("a"), col("bucket_min").as("b")).distinct()
      val sym = time("sym cache+count") {
        val s = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b"))).cache()
        s.count(); s
      }
      val oneHop = time("oneHop cache+count") {
        val o = wm.groupBy("doc_id").agg(min(col("bucket_min")).as("cluster_id")).cache()
        o.count(); o
      }
      var labels = time("labels init checkpoint")(
        oneHop.join(sym.select(col("a").as("doc_id")), Seq("doc_id"), "left_semi")
          .localCheckpoint(eager = true))
      def labelSum(l: DataFrame) = l.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
      var prev = time("labelSum init")(labelSum(labels))
      var iter = 0; var converged = false
      while (!converged && iter < 15) {
        val next = time(s"round $iter checkpoint") {
          val neigh = sym.join(labels.withColumnRenamed("doc_id", "b"), Seq("b"))
            .groupBy(col("a").as("doc_id")).agg(min(col("cluster_id")).as("nmin"))
          labels.join(neigh, Seq("doc_id"), "left")
            .select(col("doc_id"), least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
            .localCheckpoint(eager = true)
        }
        val s = time(s"round $iter labelSum")(labelSum(next))
        labels = next; converged = s.compareTo(prev) == 0; prev = s; iter += 1
      }
      val assign = time("assign checkpoint")(
        oneHop.select(col("doc_id"), col("cluster_id").as("canonical_id"))
          .withColumn("is_dup", (col("canonical_id") < col("doc_id")).cast("int"))
          .localCheckpoint(eager = true))
      val result = time("result checkpoint (orderBy)")(
        oneHop.join(labels.withColumnRenamed("cluster_id", "closed"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("closed"), col("cluster_id")).as("cluster_id"))
          .withColumn("is_dup", (col("cluster_id") < col("doc_id")).cast("int"))
          .orderBy("doc_id").localCheckpoint(eager = true))
      wm.unpersist(); sym.unpersist(); oneHop.unpersist()

      time("full q56 gate")(InvariantOps.dedupInvariants(spark, sfDir).count())
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}

/** Exposes minhashTiers' first step for profiling. */
object ProfileGateInternals {
  def withMin(docs: DataFrame): DataFrame =
    DedupOps.minhashBuckets(docs, 8, 8)
      .withColumn("bucket_min",
        min(col("doc_id")).over(Window.partitionBy("band", "bhash")))
}
