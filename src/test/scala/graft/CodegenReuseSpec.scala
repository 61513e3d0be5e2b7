package graft

import graft.ops.{ExtendedOps, ReferenceOps, RelationalOps, WarehouseOps}

/** Each generated class compiles once per JVM: the code-generation cache
  * (`spark.sql.codegen.cache.maxEntries`, set for every forked JVM in
  * build.sbt) holds the working set of a warm query mix, so repeating
  * the mix compiles nothing. At Spark's default of 100 entries a warm
  * pass of the 15 queries below recompiles about 225 classes. */
class CodegenReuseSpec extends SparkSpec with DriverBudget {

  test("the forked JVM runs with build.sbt's code-generation cache size") {
    assert(sys.props.get("spark.sql.codegen.cache.maxEntries") === Some("1024"))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1024")
  }

  test("a second pass of the benchmark's 15 analytic queries compiles no class") {
    // perfbench's `analytic` mix: every fifth of the 77 reference,
    // relational, warehouse and extended queries in name order, from the fourth
    val defs = (ReferenceOps.defs ++ RelationalOps.defs ++ WarehouseOps.defs ++
      ExtendedOps.defs).sortBy(_.name).grouped(5).flatMap(_.lift(3)).toSeq
    assert(defs.size === 15)
    def pass(): Long = {
      val c0 = compilations
      defs.foreach { q =>
        q.fn(spark, sf).collect()
        spark.catalog.clearCache()
      }
      compilations - c0
    }
    val cold = pass()
    val warm = pass()
    info(s"classes compiled: first pass $cold, second pass $warm")
    assert(warm === 0, s"a repeated pass compiled $warm classes: the codegen cache evicts its working set")
  }
}
