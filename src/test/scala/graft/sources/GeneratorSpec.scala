package graft.sources

import graft.GraftSession
import org.apache.spark.sql.catalyst.expressions.ArrayTransform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator's values are pinned: the committed `messages` fixture
  * (the table the oracle queries read) is what `Generator.messages`
  * produces today, and the two forms of the `dados` array agree. */
class GeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("generator-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sameRows(what: String, a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.orderBy("sequencia").collect(), b.orderBy("sequencia").collect())
    assert(x.length == y.length, s"$what: ${x.length} vs ${y.length} rows")
    val i = x.indices.indexWhere(i => x(i) != y(i))
    assert(i == -1, s"$what: row $i differs\n${if (i >= 0) x(i) else ""}\n${if (i >= 0) y(i) else ""}")
  }

  test("messages equals the committed fixture row for row, on every column") {
    val fixture = spark.read.parquet(GenFixtures.MessagesPath)
    val generated = Generator.messages(spark, GenFixtures.FixtureConf)
    assert(generated.columns.toSeq == fixture.columns.toSeq)
    assert(fixture.count() == GenFixtures.FixtureConf.totalMensagens)
    sameRows("messages", generated, fixture)
  }

  test("unrolled and transform dados agree at the bound and one past it") {
    val seq = spark.range(1, 201).toDF("sequencia")
    Seq(Generator.UnrolledMax, Generator.UnrolledMax + 1).foreach { n =>
      def form(unrolled: Boolean) = seq.select(col("sequencia"),
        Generator.dados(42L, n, col("sequencia"), unrolled).as("dados"))
      val unrolled = form(unrolled = true)
      assert(unrolled.select(size(col("dados"))).distinct().collect().toSeq == Seq(Row(n)))
      sameRows(s"$n registros", unrolled, form(unrolled = false))
    }
  }

  test("messages unrolls dados up to the bound, in generated code, and keeps transform past it") {
    def conf(kb: Int) =
      GenFixtures.FixtureConf.copy(totalMensagens = 50, tamanhoMensagemKB = kb)
    def usesTransform(kb: Int): Boolean =
      Generator.messages(spark, conf(kb)).queryExecution.analyzed
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayTransform])))
    // 1 KB = 5 registros (the reference workload), 2048 KB = 10,485
    val within = (1 to 100).filter(kb => conf(kb).registrosPorMensagem <= Generator.UnrolledMax).max
    assert(!usesTransform(1) && !usesTransform(within))
    assert(usesTransform(within + 1) && usesTransform(2048))
    // the largest unrolled message still fits the JVM's method size: with
    // the fallback off, a stage that fails to compile throws
    val key = "spark.sql.codegen.fallback"
    spark.conf.set(key, "false")
    try {
      val msgs = Generator.messages(spark, conf(within))
      Seq(Generator.rawAvro(msgs), Generator.rawJson(msgs)).foreach(
        _.write.format("noop").mode("overwrite").save())
    } finally spark.conf.unset(key)
  }
}
