package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType), StructField("tags", ArrayType(StringType))))
  private def row(k: Long, v: Double, tags: String*): Row =
    new GenericRowWithSchema(Array(k, v, tags.toSeq), schema)

  private val rows = Array(row(1, 0.5, "a"), row(2, 1e8 / 3, "b", "c"), row(3, -0.0))

  test("row order does not change the fingerprint") {
    assert(Fingerprint.of(rows) == Fingerprint.of(rows.reverse))
    assert(Fingerprint.of(rows).startsWith("3:"))
  }

  test("column order does not change the fingerprint") {
    val swapped = StructType(schema.fields.reverse)
    val reordered = rows.map(r => new GenericRowWithSchema(r.toSeq.reverse.toArray, swapped): Row)
    assert(Fingerprint.of(reordered) == Fingerprint.of(rows))
  }

  test("last-bit float differences vanish, real differences do not") {
    val sum = (1 to 1000).map(_ * 0.1).sum
    val reversed = (1 to 1000).reverse.map(_ * 0.1).sum
    assert(Fingerprint.canonDouble(sum) == Fingerprint.canonDouble(reversed))
    assert(Fingerprint.canonDouble(-0.0) == Fingerprint.canonDouble(0.0))
    assert(Fingerprint.of(rows) != Fingerprint.of(rows.updated(0, row(1, 0.500001, "a"))))
    assert(Fingerprint.of(rows) != Fingerprint.of(rows.updated(0, row(1, 0.5, "a", "x"))))
    assert(Fingerprint.of(rows) != Fingerprint.of(rows.take(2)))
  }

  test("array element order still counts") {
    assert(Fingerprint.of(Array(row(2, 1.0, "b", "c"))) != Fingerprint.of(Array(row(2, 1.0, "c", "b"))))
  }
}
