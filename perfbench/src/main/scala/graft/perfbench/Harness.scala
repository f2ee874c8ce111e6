package graft.perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, Main, SparkEntry}
import graft.functions.AvroSerde
import graft.llmops.{MultimodalOps, TextOps, VectorOps}
import graft.model.{EngineConf, SchemaDef}
import graft.operators.PlanCache
import graft.queries.{MiningOps, PipelineOps, Queries, RelOps, SqlSurfaceOps}
import graft.sources.Generator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark process: one workload, one closed-loop client.
  *
  * The single driver thread sends the next op only after the previous one
  * returned. A run is one set-up (session build plus a warm-up job,
  * timed from JVM start), then a cold pass over the workload's op mix,
  * then warm passes in the same session until `--seconds` have passed
  * since the cold pass began (at least two). Everything observed goes to
  * the JSON record named by `--out`; perfbench/run.py checks answers and
  * derives the metrics from it.
  *
  * Usage: Harness --workload serde|llm_batch|streaming|dump --data DIR
  *   --work DIR --out FILE --seconds S --trace 0|1 --cores N --seed N
  *   [--messages N] [--dump DIR]
  */
object Harness {

  /** Fixed llm_batch mix, in the order it runs: driver-bound iteration
    * (one job per BFS round); a shared-artifact producer and a consumer of
    * the shared edge set; a kernel-bound verifier; a relational join over
    * a cached bucketed layout. Sized so that a cold and two warm passes fit
    * one run. */
  val LlmBatch: Seq[String] = Seq(
    "q146_bfs_paths", "q243_exact_topk_blocked", "q116_triangles",
    "q96_editdist_verify", "q50_bucketed_join")

  /** Fixed streaming mix: windowed aggregation state, stream-stream join
    * state, and a multi-batch watermark run. */
  val Streaming: Seq[String] = Seq("sq1_stream_tumbling", "sq3_stream_join", "sq19_late_data")

  private val families: Seq[(String, Map[String, _])] = Seq(
    "Queries" -> Queries.all, "RelOps" -> RelOps.all, "MiningOps" -> MiningOps.all,
    "SqlSurfaceOps" -> SqlSurfaceOps.all, "PipelineOps" -> PipelineOps.all,
    "TextOps" -> TextOps.all, "VectorOps" -> VectorOps.all,
    "MultimodalOps" -> MultimodalOps.all)

  def family(name: String): String =
    families.collectFirst { case (f, m) if m.contains(name) => f }.getOrElse("StreamOps")

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def workload: String = this("workload")
    def data: String = this("data")
    def work: String = this("work")
    def seconds: Double = this("seconds").toDouble
    def trace: Boolean = this("trace") == "1"
    def cores: Int = this("cores").toInt
    def seed: Long = this("seed").toLong
    def messages: Long = this("messages").toLong
  }

  /** Writes the record: Jackson with its Scala module, both on Spark's
    * classpath. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_.head.startsWith("--")),
      "arguments are --key value pairs")
    val a = Args(argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
    val record = a.workload match {
      case "serde" => run(a, serdePass(a), serdeProbes(a))(serdeChecks(a))
      case "llm_batch" => run(a, entryPass(a, LlmBatch), _ => Nil)(_ => Map.empty)
      case "streaming" => run(a, entryPass(a, Streaming), _ => Nil)(_ => Map.empty)
      case "dump" => dump(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(a("out")), json.writeValueAsBytes(record))
  }

  def session(a: Args): SparkSession = {
    val b = GraftSession.builder("perfbench", a.cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    if (a.trace)
      b.config("spark.extraListeners", classOf[JobListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[SqlListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.registerFunctions(s)
    s
  }

  type Pass = (SparkSession, Int) => Seq[Map[String, Any]]

  /** A cold pass and at least two warm ones, so the warm figure is a
    * median even when one pass outlasts `--seconds`. */
  val MinPasses = 3

  /** Runs the set-ups and passes, then, in traced runs only, the
    * workload's layer `probes` (outside every pass), then the untimed
    * `checks`. */
  private def run(a: Args, pass: Pass, probes: SparkSession => Seq[Map[String, Any]])(
      checks: SparkSession => Map[String, Any]): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mainMs = Rec.now() - jvmStart
    val c0 = Rec.now()
    val spark = session(a)
    val createMs = Rec.now() - c0
    spark.range(0, 10000, 1, a.cores).selectExpr("sum(id)").collect()
    val setupMs = Rec.now() - jvmStart
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val t0 = Rec.now()
    var i = 0
    while (i < MinPasses || Rec.now() - t0 < a.seconds * 1000) {
      val before = PlanCache.allStats
      val start = Rec.now()
      ops ++= pass(spark, i)
      val end = Rec.now()
      passes += Map("index" -> i, "kind" -> (if (i == 0) "cold" else "warm"),
        "start" -> start, "end" -> end,
        "plancache" -> cacheDelta(before, PlanCache.allStats),
        "persisted_mb" -> persistedMb(spark))
      i += 1
    }
    if (a.trace) ops ++= probes(spark)
    val extra = checks(spark)
    spark.stop()
    Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "jvm_to_run_ms" -> mainMs, "setup_ms" -> setupMs, "session_create_ms" -> createMs,
      "passes" -> passes, "ops" -> ops, "checks" -> extra,
      "vmhwm_kb" -> vmHwmKb, "events" -> Rec.snapshot())
  }

  /** Per-cache (builds, hits, build seconds) accrued during one pass. */
  private def cacheDelta(before: Map[String, (Long, Long, Double, Long)],
      after: Map[String, (Long, Long, Double, Long)]): Map[String, Any] =
    after.flatMap { case (name, (h, m, s, _)) =>
      val (h0, m0, s0, _) = before.getOrElse(name, (0L, 0L, 0.0, 0L))
      if (h == h0 && m == m0) None
      else Some(name -> Map("hits" -> (h - h0), "builds" -> (m - m0), "build_s" -> (s - s0)))
    }

  private def persistedMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  private def vmHwmKb: Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }

  /** Times one op: `build` returns the DataFrame (any eager work inside
    * the engine function lands here), `collect` executes it. The answer
    * summary `check` runs after the clock stops. A throwing op is
    * recorded with its exception and the run continues. */
  private def op(pass: Int, name: String, family: String)(build: => DataFrame)(
      check: Array[Row] => Map[String, Any]): Map[String, Any] = {
    val head = Map("pass" -> pass, "name" -> name, "family" -> family)
    val start = Rec.now()
    try {
      val df = build
      val built = Rec.now()
      val rows = df.collect()
      val end = Rec.now()
      head ++ Map("start" -> start, "built" -> built, "end" -> end, "ok" -> true) ++ check(rows)
    } catch {
      case NonFatal(e) =>
        val end = Rec.now()
        head ++ Map("start" -> start, "built" -> end, "end" -> end, "ok" -> false,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(2000))
    }
  }

  private def answer(rows: Array[Row]): Map[String, Any] =
    Map("rows" -> rows.length, "fingerprint" -> Fingerprint.of(rows))

  private def entryPass(a: Args, names: Seq[String]): Pass = (spark, i) =>
    names.map { n =>
      op(i, n, family(n))(SparkEntry.queries(n)(spark, a.data))(answer)
    }

  // ---- serde: the reference pipeline at its README shape ----

  private def serdeConf(a: Args): EngineConf =
    EngineConf(totalMensagens = a.messages, tamanhoMensagemKB = 1, numParticoes = 18,
      compressionType = "lz4", warmupMensagens = 0L, seed = a.seed)

  private def report(rows: Array[Row]): Map[String, Any] = {
    val r = rows.head
    Map("report" -> Seq("totalMensagens", "mensagensSucesso", "mensagensComErro", "totalBytes")
      .map(k => k -> r.getAs[Long](k)).toMap)
  }

  private def noop(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df.sparkSession.emptyDataFrame
  }

  /** Produce and consume legs for both formats, interleaved. */
  private def serdePass(a: Args): Pass = (spark, i) => {
    val conf = serdeConf(a)
    val dir = s"${a.work}/serde"
    val transport = conf.copy(benchMode = "TRANSPORTE")
    Seq(
      op(i, "produce_avro", "Main")(Main.produce(spark, conf, dir, avro = true))(report),
      op(i, "produce_json", "Main")(Main.produce(spark, conf, dir, avro = false))(report),
      op(i, "consume_avro", "Main")(Main.consume(spark, conf, dir, avro = true))(report),
      op(i, "consume_json", "Main")(Main.consume(spark, conf, dir, avro = false))(report),
      op(i, "transport_avro", "Main")(Main.consume(spark, transport, dir, avro = true))(report),
      op(i, "transport_json", "Main")(Main.consume(spark, transport, dir, avro = false))(report))
  }

  /** Layer probes, three rounds: generation alone, and generation plus
    * each encoding, into the noop sink. */
  private def serdeProbes(a: Args)(spark: SparkSession): Seq[Map[String, Any]] = {
    def msgs = Generator.messages(spark, serdeConf(a))
    (0 until 3).flatMap { _ =>
      Seq(
        op(-1, "layer_generate", "Generator")(noop(msgs.drop("bytes_avro", "bytes_json")))(_ => Map.empty),
        op(-1, "layer_encode_avro", "Generator")(noop(Generator.rawAvro(msgs)))(_ => Map.empty),
        op(-1, "layer_encode_json", "Generator")(noop(Generator.rawJson(msgs)))(_ => Map.empty))
    }
  }

  /** Decodes both written topics once more, untimed: row count, rows
    * that decode, and the `sequencia` sum of each format. */
  private def serdeChecks(a: Args)(spark: SparkSession): Map[String, Any] = {
    val dir = s"${a.work}/serde"
    def summary(fmt: String, decoded: DataFrame => org.apache.spark.sql.Column) = {
      val raw = spark.read.parquet(s"$dir/messages_raw_$fmt")
      val r = raw.select(decoded(raw).as("m"))
        .agg(count(lit(1)), count(col("m")), sum(col("m.sequencia"))).head()
      fmt -> Map("rows" -> r.getLong(0), "ok" -> r.getLong(1), "seq_sum" -> r.getLong(2))
    }
    Map("messages" -> a.messages) ++ Seq(
      summary("avro", df => AvroSerde.from_avro(df("valor"), SchemaDef.mensagemAvroJson)),
      summary("json", df => from_json(df("valor").cast("string"), SchemaDef.mensagemType)))
  }

  /** Writes each mix entry's answer as parquet plus its oracle SQL, the
    * layout tools/check_oracle.py reads, and records the fingerprints. */
  private def dump(a: Args): Map[String, Any] = {
    val spark = session(a)
    val out = a("dump")
    val names = LlmBatch ++ Streaming
    val fps = names.map { n =>
      val df = SparkEntry.queries(n)(spark, a.data)
      val fp = Fingerprint.of(df.collect())
      df.write.mode("overwrite").parquet(s"$out/$n")
      n -> fp
    }
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.write(Paths.get(s"$out/oracle_sql.json"), json.writeValueAsBytes(oracle))
    spark.stop()
    Map("fingerprints" -> fps.toMap)
  }
}
