package graft.operators

import graft.model.EngineConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The reference's core "query": the streaming metrics accumulator and
  * its derived report (reference: util/MetricasDesempenho.java:29-105),
  * re-expressed as a single Spark aggregation.
  *
  * The four counters (`registrarMensagem`: count++, bytes+=,
  * success/error++ — MetricasDesempenho.java:29-43) become one global
  * `agg` — Catalyst plans it as partial (map-side) + final aggregation,
  * which is exactly the reference's per-thread-accumulate-then-`merge`
  * (MetricasDesempenho.java:111-117) generalized to any number of
  * executors: no shuffle beyond the 4-counter partials.
  *
  * Derived metrics follow MetricasDesempenho.java:45-72 exactly,
  * including the zero-duration/zero-count guards returning 0.
  */
object Metrics {

  /** Counter aggregation columns (the `registrarMensagem` semantics:
    * bytes only added when > 0) over the rows where `counted` holds —
    * every row by default, where Catalyst folds the condition away. */
  def counterAggs(bytes: Column, sucesso: Column, counted: Column = lit(true)): Seq[Column] = {
    def sumIf(v: Column) = coalesce(sum(when(counted, v).otherwise(0L)), lit(0L))
    Seq(
      count(when(counted, 1)).as("totalMensagens"),
      sumIf(when(sucesso, 1L).otherwise(0L)).as("mensagensSucesso"),
      sumIf(when(sucesso, 0L).otherwise(1L)).as("mensagensComErro"),
      sumIf(when(bytes > 0, bytes).otherwise(0L)).as("totalBytes"))
  }

  /** The report's aggregates: the four counters plus the first and last
    * event timestamps, over the rows where `counted` holds. [[format]]
    * turns their one-row result into the report. */
  def reportAggs(bytes: Column, sucesso: Column, ts: Column,
                 counted: Column = lit(true)): Seq[Column] =
    counterAggs(bytes, sucesso, counted) ++ Seq(
      coalesce(min(when(counted, ts)), lit(0L)).as("timestampInicio"),
      coalesce(max(when(counted, ts)), lit(0L)).as("timestampFim"))

  /** Derived-metric columns over the four counters + duration.
    * Formulas and zero-guards per MetricasDesempenho.java:45-72:
    *   duracaoSegundos = duracaoMs / 1000.0
    *   msg/s  = total / dur_s            (0 when dur_s <= 0)
    *   MB/s   = (bytes/1024/1024) / dur_s (0 when dur_s <= 0)
    *   ms/msg = duracaoMs / total        (0 when total == 0)
    *   success% = sucesso * 100.0 / total (0 when total == 0)
    */
  def derivedCols(duracaoMs: Column): Seq[Column] = {
    val durS = duracaoMs.cast("double") / 1000.0
    val total = col("totalMensagens")
    val mb = col("totalBytes").cast("double") / (1024.0 * 1024.0)
    Seq(
      duracaoMs.cast("long").as("duracaoMs"),
      durS.as("duracaoSegundos"),
      when(durS > 0, total.cast("double") / durS).otherwise(0.0)
        .as("throughputMensagensPorSegundo"),
      when(durS > 0, mb / durS).otherwise(0.0).as("throughputMBPorSegundo"),
      when(total > 0, duracaoMs.cast("double") / total.cast("double")).otherwise(0.0)
        .as("tempoPorMensagemMs"),
      when(total > 0, col("mensagensSucesso").cast("double") * 100.0 / total.cast("double"))
        .otherwise(0.0).as("taxaSucessoPorcentagem"),
      mb.as("totalMB"))
  }

  /** Full report: one row, counters + derived + config echoes, stable
    * column order (the reference's HashMap order is unstable —
    * MetricasDesempenho.java:80-105; we pin it per FIXTURES.md §B).
    * `duracaoMs` is data-derived (max-min of the event timestamps) so
    * the report is reproducible, vs the reference's wall-clock.
    */
  def report(df: DataFrame, bytes: Column, sucesso: Column, ts: Column,
             conf: EngineConf = EngineConf()): DataFrame = {
    val aggs = reportAggs(bytes, sucesso, ts)
    format(df.agg(aggs.head, aggs.tail: _*), conf)
  }

  /** The report over `counters`, one row holding the [[reportAggs]]
    * columns — an aggregation, or a local frame built from an
    * observation (see [[graft.Main.produce]]). */
  def format(counters: DataFrame, conf: EngineConf): DataFrame = {
    val dur = col("timestampFim") - col("timestampInicio")
    counters
      .select((col("*") +: derivedCols(dur)): _*)
      .select(
        col("totalMensagens"), col("mensagensSucesso"), col("mensagensComErro"),
        col("totalBytes"),
        format_string("%.2f", col("totalMB")).as("totalMB"),
        col("duracaoMs"),
        format_string("%.2f", col("duracaoSegundos")).as("duracaoSegundos"),
        format_string("%.2f", col("throughputMensagensPorSegundo")).as("throughputMensagensPorSegundo"),
        format_string("%.2f", col("throughputMBPorSegundo")).as("throughputMBPorSegundo"),
        format_string("%.2f", col("tempoPorMensagemMs")).as("tempoPorMensagemMs"),
        format_string("%.2f", col("taxaSucessoPorcentagem")).as("taxaSucessoPorcentagem"),
        col("timestampInicio"), col("timestampFim"),
        lit(conf.consumerThreads).as("threadsConsumidor"),
        lit(conf.tamanhoMensagemKB).as("tamanhoMensagemKB"),
        lit(conf.benchMode).as("modoBenchmark"),
        lit(conf.compressionType).as("compressaoProdutor"))
  }

  /** One message observation for the typed aggregation path. */
  final case class Obs(bytes: Long, sucesso: Boolean)

  /** Mutable counter buffer (mirrors the reference's four AtomicLongs —
    * MetricasDesempenho.java:34-38 — made race-free by Spark's
    * per-partition reduce + merge). */
  final case class Counters(
      var total: Long = 0L, var sucesso: Long = 0L,
      var erro: Long = 0L, var bytes: Long = 0L)

  /** The §7.3 typed fallback: the same counter semantics as
    * [[counterAggs]] expressed as an `Aggregator[Obs, Counters,
    * Counters]` — the engine's typed-Dataset aggregation surface.
    * reduce = registrarMensagem, merge = MetricasDesempenho.merge. */
  object CounterAggregator
      extends org.apache.spark.sql.expressions.Aggregator[Obs, Counters, Counters] {
    override def zero: Counters = Counters()
    override def reduce(b: Counters, o: Obs): Counters = {
      b.total += 1
      if (o.sucesso) b.sucesso += 1 else b.erro += 1
      if (o.bytes > 0) b.bytes += o.bytes
      b
    }
    override def merge(a: Counters, b: Counters): Counters = {
      a.total += b.total; a.sucesso += b.sucesso; a.erro += b.erro; a.bytes += b.bytes
      a
    }
    override def finish(r: Counters): Counters = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Counters] =
      org.apache.spark.sql.Encoders.product[Counters]
    override def outputEncoder: org.apache.spark.sql.Encoder[Counters] =
      org.apache.spark.sql.Encoders.product[Counters]
  }

  /** The report of a completed write that observed [[reportAggs]] in
    * `obs`: a one-row local frame (a `LocalRelation`), so collecting
    * it starts no Spark job. */
  def observedReport(spark: SparkSession, obs: Observation, conf: EngineConf): DataFrame = {
    val row = scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration.Inf)
    format(spark.createDataFrame(java.util.List.of(row), row.schema), conf)
  }

  /** Single-pass variant: attach the counters as an `Observation` so a
    * benchmark action yields metrics without a second job (the
    * reference accumulates during its send/poll loop — same one-pass
    * property; Dataset.observe is streaming-safe too). Returns the
    * observed DataFrame; read `obs.get` after an action completes. */
  def observed(df: DataFrame, bytes: Column, sucesso: Column): (DataFrame, Observation) = {
    val obs = Observation("graft_metrics")
    val aggs = counterAggs(bytes, sucesso)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }
}
