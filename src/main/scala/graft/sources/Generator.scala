package graft.sources

import graft.functions.AvroSerde
import graft.functions.GraftFunctions._
import graft.model.{EngineConf, SchemaDef}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Distributed, deterministic message generator — the Spark-native
  * re-expression of the reference's driver-side generate loop
  * (reference: util/GeradorCargaEstruturada.java:17-74 and
  * aplicacoes/ProdutorAvro.java:55-70).
  *
  * Shape: `spark.range(1, n+1)` (already partition-parallel, no driver
  * loop) + pure column expressions. Everything is a codegen'd builtin;
  * at 100 TB this scales linearly with executors because each task
  * generates its own range slice independently — zero shuffle.
  *
  * Determinism: the reference uses unseeded Random/UUID/now(); we
  * derive every field from (seed, sequencia, indice) hashes so t2
  * oracle hashing is possible (SURVEY.md §7.4).
  */
object Generator {

  /** Fixed epoch base for deterministic "timestamps": 2024-01-01T00:00Z. */
  val BaseTs: Long = 1704067200000L

  /** Largest message, in registros, whose `dados` is built as an
    * explicit `array(registro(0), …, registro(n-1))`. That form is
    * whole-stage codegen'd; `transform` (ArrayTransform) is
    * CodegenFallback, so every registro's hashes and struct are
    * interpreted row by row. Sweep of generate + encode (both formats,
    * 300,000 registros, 4 cores), unrolled over transform time: 0.49 at
    * 5 registros (1 KB), 0.75–0.83 at 10–30, 0.94–0.99 at 35–46; at 51
    * the generated method passes the JVM's 64 KB limit, Spark falls back
    * to interpreted code and the unrolled form is 1.4× slower. 32 keeps
    * the gain with room below that limit. Larger messages (the 2 MB
    * default is 10,485 registros) keep `transform`: one lambda,
    * whatever the size. */
  private[sources] val UnrolledMax = 32

  /** The `dados` array of one message; `unrolled` picks the form (both
    * give the same values). */
  private[sources] def dados(seed: Long, nRegistros: Int, seq: Column,
                             unrolled: Boolean): Column = {
    val s = lit(seed)
    def registro(i: Column) = struct(
      i.cast("int").as("indice"),
      deterministicText(100, s, seq, i, lit("texto")).as("texto"),
      deterministicUniform(1000.0, s, seq, i, lit("numero")).as("numero"),
      (lit(BaseTs) + seq).as("timestamp"),
      deterministicUuid(s, seq, i, lit("uuid")).as("uuid"))
    if (unrolled) array((0 until nRegistros).map(i => registro(lit(i))): _*)
    else transform(sequence(lit(0), lit(nRegistros - 1)), i => registro(i))
  }

  /** Payload columns for one message row, given a `sequencia` column. */
  private def payloadCols(seed: Long, nRegistros: Int)(seq: Column): Seq[(String, Column)] =
    Seq(
      "id" -> deterministicUuid(lit(seed), seq, lit("id")),
      "timestamp" -> (lit(BaseTs) + seq),
      "sequencia" -> seq,
      "dados" -> dados(seed, nRegistros, seq, unrolled = nRegistros <= UnrolledMax),
      "versao" -> lit("1.0"))

  /** The `messages` table with envelope columns (FIXTURES.md §A):
    * chave/particao per the reference's producer record
    * (ProdutorAvro.java:67-68: key "msg-"+i, partition (i-1)%P),
    * bytes_avro/bytes_json = serialized sizes on each path, sucesso =
    * deterministic error injection (1 in 97 fails) standing in for the
    * producer-callback error accounting (ProdutorAvro.java:74-90).
    */
  def messages(spark: SparkSession, conf: EngineConf): DataFrame = {
    val seq = col("sequencia")
    // two projections (the sizes read the finished payload columns),
    // not a withColumn chain, which analyzes a new Dataset per column
    val envelope = payloadCols(conf.seed, conf.registrosPorMensagem)(seq)
      .map { case (name, c) => c.as(name) } ++ Seq(
      concat(lit("msg-"), seq).as("chave"),
      pmod(seq - 1, lit(conf.numParticoes.toLong)).cast("int").as("particao"),
      (pmod(seq, lit(97L)) =!= 0).as("sucesso"))
    spark.range(1, conf.totalMensagens + 1).toDF("sequencia")
      .select(envelope: _*)
      .select(seq, col("chave"), col("particao"), col("id"), col("timestamp"), col("versao"),
        col("dados"),
        length(AvroSerde.to_avro(payloadStruct, SchemaDef.mensagemAvroJson)).cast("long")
          .as("bytes_avro"),
        octet_length(to_json(payloadStruct)).cast("long").as("bytes_json"),
        col("sucesso"))
  }

  /** Serialized views, the analogue of the two producer wire formats:
    * (chave, particao, valor) plus the envelope metadata the producer
    * callback accounting needs (sequencia/timestamp/sucesso — the
    * Kafka analogues are the record key/timestamp and send result).
    * `valor` is the ONLY serialization of the payload in the plan;
    * producer metrics derive from `octet_length(valor)` downstream
    * rather than re-serializing. */
  def rawAvro(messages: DataFrame): DataFrame =
    messages.select(col("chave"), col("particao"), col("sequencia"),
      col("timestamp"), col("sucesso"),
      AvroSerde.to_avro(payloadStruct, SchemaDef.mensagemAvroJson).as("valor"))

  def rawJson(messages: DataFrame): DataFrame =
    messages.select(col("chave"), col("particao"), col("sequencia"),
      col("timestamp"), col("sucesso"), to_json(payloadStruct).as("valor"))

  private def payloadStruct: Column = struct(
    col("id"), col("timestamp"), col("sequencia"), col("dados"), col("versao"))
}
