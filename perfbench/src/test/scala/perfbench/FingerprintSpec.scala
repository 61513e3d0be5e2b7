package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  private val schema = StructType.fromDDL("k STRING, v DOUBLE, xs ARRAY<BIGINT>")
  private val rows = Seq(Row("a", 1.5, Seq(1L, 2L)), Row("b", null, Seq()),
    Row("c", 0.1 + 0.2, Seq(3L)))

  test("row order does not change the fingerprint") {
    val fp = Fingerprint.of(schema, rows)
    rows.permutations.foreach(p => assert(Fingerprint.of(schema, p) == fp))
  }

  test("column order does not change the fingerprint") {
    val swapped = StructType.fromDDL("xs ARRAY<BIGINT>, v DOUBLE, k STRING")
    assert(Fingerprint.of(swapped, rows.map(r => Row(r(2), r(1), r(0)))) ==
      Fingerprint.of(schema, rows))
  }

  test("a changed, missing or duplicated row changes it") {
    val fp = Fingerprint.of(schema, rows)
    assert(Fingerprint.of(schema, rows.updated(0, Row("a", 1.25, Seq(1L, 2L)))) != fp)
    assert(Fingerprint.of(schema, rows.tail) != fp)
    assert(Fingerprint.of(schema, rows :+ rows.head) != fp)
    assert(Fingerprint.of(schema, rows.updated(0, Row("a", 1.5, Seq(2L, 1L)))) != fp)
  }

  test("doubles are compared after normalization") {
    def fp(d: Any) = Fingerprint.of(StructType.fromDDL("v DOUBLE"), Seq(Row(d)))
    assert(fp(-0.0) == fp(0.0))
    assert(fp(Double.NaN) == fp(-Double.NaN))
    assert(fp(0.1 + 0.2) == fp(0.3))
    assert(fp(1e-300) != fp(0.0))
    assert(fp(1.0001) != fp(1.0))
    assert(fp(null) != fp(0.0))
  }
}
