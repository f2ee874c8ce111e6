package graft

import graft.model.{EngineConf, SchemaDef}
import graft.operators.Metrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Produce counts its report during the write (an observation) instead
  * of re-reading the topic, and consume reads the topic with a known
  * schema: both must give what the re-read and the inferred schema do. */
class ProduceReportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val conf = EngineConf(totalMensagens = 2000, tamanhoMensagemKB = 1, seed = 42)

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("produce-report-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_produce_").toString

  private def fmt(avro: Boolean) = if (avro) "avro" else "json"

  /** The report as produce built it before observation: the filtered
    * re-read of the written topic. */
  private def reread(c: EngineConf, dir: String, avro: Boolean): Row =
    Metrics.report(
      spark.read.parquet(s"$dir/messages_raw_${fmt(avro)}")
        .filter(col("sequencia") > c.warmupMensagens),
      octet_length(col("valor")).cast("long"), col("sucesso"), col("timestamp"), c)
      .collect().head

  test("observed produce report equals the report over a re-read of the written topic") {
    for (warmup <- Seq(0L, 100L); avro <- Seq(true, false)) {
      val c = conf.copy(warmupMensagens = warmup)
      val dir = tmp()
      val observed = Main.produce(spark, c, dir, avro)
      val got = observed.collect().head
      val want = reread(c, dir, avro)
      assert(got == want, s"warmup $warmup ${fmt(avro)}")
      assert(observed.schema.map(f => f.name -> f.dataType) ==
        want.schema.map(f => f.name -> f.dataType))
      val counted = got.getAs[Long]("totalMensagens")
      val erros = got.getAs[Long]("mensagensComErro")
      // sucesso = seq % 97 != 0: 20 failures in [1, 2000], 19 in (100, 2000]
      if (warmup == 0) assert(counted == 2000 && erros == 20)
      else assert(counted == 1900 && erros == 19)
    }
  }

  test("collecting the produce report starts no Spark job") {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val report = Main.produce(spark, conf, tmp(), avro = true)
      sc.setJobGroup("report_collect", "collect the produce report")
      assert(report.collect().head.getAs[Long]("totalMensagens") == 2000)
      // events reach listeners in order: once a later job's start has
      // arrived, every job the collect started has arrived too
      sc.setJobGroup("sentinel", "marks the end of the collect's events")
      spark.range(1).collect()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("sentinel"), "the sentinel job never reached the listener")
      assert(!groups.contains("report_collect"))
    } finally sc.removeSparkListener(listener)
  }

  test("consume's topic schema equals the schema Spark infers from a produced topic") {
    val dir = tmp()
    for (avro <- Seq(true, false)) {
      Main.produce(spark, conf, dir, avro).collect()
      assert(spark.read.parquet(s"$dir/messages_raw_${fmt(avro)}").schema ==
        SchemaDef.topicType(avro), fmt(avro))
    }
  }
}
