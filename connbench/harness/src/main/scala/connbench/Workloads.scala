package connbench

import java.io.{ByteArrayInputStream, File, PrintWriter}
import java.nio.channels.Channels

import scala.collection.mutable

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.spark.ConnbenchBridge
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}
import graft.plans.{PartitionConfig, Planner}
import graft.sources.{ArrowSink, Source}

/** The workloads. Each method does its set-up when called and returns a
  * [[Workloads.Workload]], whose measurement [[Main]] starts after
  * printing the ready line.
  *
  * One client drives every call in a closed loop: a call starts when the
  * previous one has returned.
  */
final class Workloads(spark: SparkSession, o: Main.Opts, tracer: Tracer,
    awaitFixture: () => Unit) {
  import Main._
  import Workloads._

  var attempted = 0L
  var failed = 0L

  /** Queries whose written output run.py checks against DuckDB, with the
    * number of operations that check covers. */
  val oracleOps = mutable.LinkedHashMap.empty[String, Long]

  private val recorder = new Recorder
  private val allocator = new RootAllocator(Long.MaxValue)
  private val connectorData = new File(o.data, "sf0.1").getAbsolutePath
  private val lineitemPath = new File(connectorData, "lineitem.parquet").getAbsolutePath

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run one operation. A throw or a failed check counts as a failure
    * and contributes no timing. */
  private def op[T](ok: T => Boolean)(body: => T): Option[T] = {
    attempted += 1
    try {
      val r = body
      if (ok(r)) Some(r) else { failed += 1; None }
    } catch {
      case e: Exception =>
        System.err.println(s"[connbench] operation failed: $e")
        failed += 1
        None
    }
  }

  /** Run `body` with the benchmark's listener attached. The listener's
    * events are drained before it is detached, after `body` has been
    * timed. */
  private def withListener[T](body: => T): T = {
    spark.sparkContext.addSparkListener(recorder)
    try body
    finally {
      ConnbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
  }

  // ------------------------------------------------------ connector calls

  /** One connector call: rows decoded from its Arrow batches, checked
    * against `expect` after the clock stopped. Traced calls carry their
    * call id and partition count. */
  final case class Call(seconds: Double, rows: Long, batches: Int,
      bytes: Long, ok: Boolean, id: Int = -1, partitions: Int = 0)

  private def decode(batches: Array[Array[Byte]], seconds: Double,
      expect: Long): Call = {
    val rows = batches.iterator.map { b =>
      val rb = MessageSerializer.deserializeRecordBatch(
        new ReadChannel(Channels.newChannel(new ByteArrayInputStream(b))), allocator)
      try rb.getLength.toLong finally rb.close()
    }.sum
    Call(seconds, rows, batches.length, batches.map(_.length.toLong).sum,
      rows == expect)
  }

  /** The path a user takes: `Graft.readSql`, then
    * `ArrowSink.collectIpcBatches`. */
  def load(conn: String, query: String, parts: Int, expect: Long): Call = {
    val t0 = System.nanoTime()
    val batches = ArrowSink.collectIpcBatches(Graft.readSql(spark, conn,
      Seq(query), partitionOn = Some(PartitionCol), partitionNum = Some(parts)))
    decode(batches, elapsedS(t0), expect)
  }

  /** The same call through its public layers, one span each: the plan
    * (its min/max probe callback a child span), the DataFrame build, a
    * noop write of the built DataFrame (the fetch without the Arrow
    * encode, a split pass a user never runs) and the Arrow collect. Its
    * time leaves out the split pass. */
  def tracedLoad(conn: String, query: String, parts: Int, expect: Long): Call =
    withListener {
      val c = tracer.newCall()
      var partitions = 0
      val batches = tracer.span("call") {
        val source = Source.forConnection(spark, conn)
        val plan = tracer.span("plans.plan") {
          Planner.createPartitionPlan(
            PartitionConfig(Seq(query), Some(PartitionCol), Some(parts)),
            fetchMinMax = q => tracer.span("sources.minmax") {
              source.fetchMinMax(q, PartitionCol)
            })
        }
        partitions = plan.numPartitions
        val df = tracer.span("sources.build_df")(Graft.executePlan(source, plan))
        tracer.span("sources.fetch")(df.write.format("noop").mode("overwrite").save())
        tracer.span("arrow.collect")(ArrowSink.collectIpcBatches(df))
      }
      val ns = (tracer.ns(c, "call") - tracer.ns(c, "sources.fetch")) / 1e9
      decode(batches, ns, expect).copy(id = c, partitions = partitions)
    }

  /** Drop cached data outside the clock, so that no call reuses what
    * the previous one cached. The heap is not collected: G1 keeps the
    * size it grew to, as it would for a user making the same calls. */
  private def settle(): Unit = spark.catalog.clearCache()

  /** Closed loop of whole-table loads for `o.seconds` and at least
    * `minCalls` calls. A traced run alternates untraced and traced calls
    * (half the minimum each), then times two untraced calls at
    * `partitionNum=1`. */
  private def connector(conn: String, rows: Long,
      minCalls: Int): () => Seq[Metric] = () => {
    val plain = mutable.ArrayBuffer.empty[Call]
    val traced = mutable.ArrayBuffer.empty[Call]
    val min = if (o.trace) (minCalls / 2) max 3 else minCalls
    def run(into: mutable.ArrayBuffer[Call])(call: (String, Long) => Call): Unit = {
      op[Call](_.ok)(call(LineitemQuery, rows)).foreach(into += _)
      settle()
    }
    val t0 = System.nanoTime()
    while (elapsedS(t0) < o.seconds || plain.length < min) {
      run(plain)(load(conn, _, o.cores, _))
      if (o.trace) run(traced)(tracedLoad(conn, _, o.cores, _))
    }
    if (!o.trace) endToEnd(plain.toSeq)
    else {
      val single = mutable.ArrayBuffer.empty[Call]
      (1 to 2).foreach(_ => run(single)(load(conn, _, 1, _)))
      perLayer(connectorLayers(plain.toSeq, traced.toSeq, single.toSeq))
    }
  }

  /** End-to-end metrics of a connector workload; one operation is one
    * call. A bulk workload's suite is one call, so `suite_s` and
    * `rows_per_s` are its median call time in other units. */
  private def endToEnd(calls: Seq[Call]): Seq[Metric] = {
    val p50 = median(calls.map(_.seconds))
    Seq(
      Metric("rows_per_s", median(calls.map(_.rows.toDouble)) / p50, "1/s"),
      Metric("call_p50_ms", p50 * 1000, "ms"),
      Metric("suite_s", p50, "s"),
      okFrac)
  }

  private def okFrac: Metric =
    Metric("ok_frac", 1.0 - failed.toDouble / attempted, "fraction")

  private def connectorLayers(plain: Seq[Call], traced: Seq[Call],
      single: Seq[Call]): Seq[Metric] = {
    def ms(c: Call, name: String) = tracer.ns(c.id, name) / 1e6
    val spark = sparkLayers(traced.map(c =>
      (tracer.get(c.id, "call"), Some(tracer.get(c.id, "sources.fetch")))))
    val rows = traced.map(_.rows.toDouble).sum
    Seq(
      Metric("sources.minmax_ms", median(traced.map(ms(_, "sources.minmax"))), "ms"),
      Metric("sources.build_df_ms", median(traced.map(ms(_, "sources.build_df"))), "ms"),
      Metric("plans.plan_ms", median(traced.map(c =>
        tracer.selfNs(tracer.get(c.id, "plans.plan")) / 1e6)), "ms"),
      Metric("plans.partitions", median(traced.map(_.partitions.toDouble)), "count"),
      Metric("sources.fetch_ms", median(traced.map(ms(_, "sources.fetch"))), "ms"),
      Metric("sources.rows_read_per_row", spark.recordsRead / rows, "ratio"),
      Metric("sources.speedup_4v1",
        median(single.map(_.seconds)) / median(plain.map(_.seconds)), "ratio"),
      Metric("arrow.encode_collect_ms", median(traced.map(c =>
        ms(c, "arrow.collect") - ms(c, "sources.fetch"))), "ms"),
      Metric("arrow.batches_per_partition",
        median(traced.map(c => c.batches.toDouble / c.partitions)), "ratio"),
      Metric("arrow.bytes_per_row", traced.map(_.bytes.toDouble).sum / rows, "B"),
      Metric("trace.overhead_frac",
        median(traced.map(_.seconds)) / median(plain.map(_.seconds)) - 1, "ratio"),
    ) ++ spark.metrics
  }

  // ------------------------------------------------------ spark scheduler

  final case class SparkLayers(metrics: Seq[Metric], jobs: Seq[Double],
      gapsS: Seq[Double], recordsRead: Double)

  /** Scheduler statistics of traced calls, from the benchmark's listener.
    * A call's jobs are those submitted inside its span, less those of
    * its `skip` span (the connector's fetch split pass); its driver gap
    * is the part of its span, less `skip`, that no job covers. */
  private def sparkLayers(calls: Seq[(Span, Option[Span])]): SparkLayers = {
    val per = calls.map { case (call, skip) =>
      val js = recorder.jobsIn(call.start, call.end).filterNot(j =>
        skip.exists(s => recorder.jobsIn(s.start, s.end).contains(j)))
      val gap = recorder.gapNs(call.start, call.end, js) - skip.map(_.ns).getOrElse(0L)
      (js, recorder.tasksOf(js), gap)
    }
    val tasks = per.map(_._2)
    val runNs = tasks.map(_.runMs).sum * 1e6
    val jobs = per.map(_._1.length.toDouble)
    val gaps = per.map(_._3 / 1e9)
    SparkLayers(Seq(
      Metric("spark.jobs", median(jobs), "count"),
      Metric("spark.tasks", median(tasks.map(_.n.toDouble)), "count"),
      Metric("spark.driver_gap_ms", median(gaps) * 1000, "ms"),
      Metric("spark.cpu_per_run", tasks.map(_.cpuNs).sum / runNs, "ratio"),
      Metric("spark.gc_s", mean(tasks.map(_.gcMs / 1e3)), "s"),
      Metric("spark.shuffle_mb", mean(tasks.map(_.shuffleBytes / 1048576.0)), "MB"),
      Metric("spark.spill_mb", mean(tasks.map(_.spillBytes / 1048576.0)), "MB"),
    ), jobs, gaps, tasks.map(_.recordsRead).sum.toDouble)
  }

  /** Every per-layer metric, in a fixed order; a layer the workload does
    * not run reads 0. */
  private def perLayer(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    PerLayer.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }
  }

  // ------------------------------------------------------------ workloads

  /** Lineitem's fingerprint from the Parquet file, then the Derby copy's
    * check against it. */
  private def derbyFixture(): Long = {
    val pq = spark.read.parquet(lineitemPath)
    val want = phase("fingerprint_parquet")(Fixture.fingerprint(pq))
    awaitFixture()
    phase("fingerprint_derby")(Fixture.verify(spark, want, pq, o.cores))
    want._1
  }

  /** Whole-table loads, after `warm` untimed ones (the first calls of a
    * fresh JVM still compile). */
  private def bulk(conn: String, rows: Long, warm: Int, minCalls: Int): Workload = {
    phase("warm")((1 to warm).foreach { _ =>
      load(conn, LineitemQuery, o.cores, rows)
      settle()
    })
    Workload(connector(conn, rows, minCalls), () => {
      op[Call](_.ok)(load(conn, LineitemQuery, o.cores, rows))
      settle()
    })
  }

  def jdbcBulk(): Workload =
    bulk(Fixture.Url, derbyFixture(), warm = 2, minCalls = 5)

  def parquetBulk(): Workload =
    bulk(connectorData, spark.read.parquet(lineitemPath).count(), warm = 6, minCalls = 15)

  /** Output fingerprint, computed by an observed aggregate that rides on
    * the action running the query. */
  private def observed(name: String, df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"${name}_${System.nanoTime()}")
    (df.observe(obs, count(lit(1)).as("rows"),
      bit_xor(xxhash64(df.columns.toSeq.map(df.col): _*)).as("hash")), obs)
  }

  private def fingerprintOf(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }

  /** Queries called through `SparkEntry.queries` with a noop write, as
    * `graft.Bench` does, after `warmPasses` untimed passes. The first of
    * them writes the outputs for run.py's DuckDB check. Every timed call
    * must reproduce its first-pass fingerprint. */
  private def pipeline(dir: String, queries: Seq[String], warmPasses: Int,
      minPasses: Int): Workload = {
    val out = new File(o.runDir, "out")
    val want = queries.map { n =>
      val fp = phase(s"warm_$n") {
        val (df, obs) = observed(n, SparkEntry.queries(n)(spark, dir))
        df.write.mode("overwrite").parquet(new File(out, n).getAbsolutePath)
        fingerprintOf(obs)
      }
      spark.catalog.clearCache()
      n -> fp
    }.toMap
    val sql = new PrintWriter(new File(out, "oracle_sql.json"))
    try sql.print(queries.map(n => jsonString(n) + ":" +
      jsonString(SparkEntry.oracleSql(n))).mkString("{", ",", "}"))
    finally sql.close()

    def call(n: String): Boolean = {
      val (df, obs) = observed(n, SparkEntry.queries(n)(spark, dir))
      df.write.format("noop").mode("overwrite").save()
      fingerprintOf(obs) == want(n)
    }
    phase("warm")((2 to warmPasses).foreach(_ =>
      queries.foreach { n => call(n); settle() }))
    settle()
    val pass = () => queries.foreach { n =>
      oracleOps(n) = oracleOps.getOrElse(n, 0L) + 1
      op[Boolean](identity)(call(n))
      settle()
    }
    val measure = () => {
      val plain = queries.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
      val traced = queries.map(_ -> mutable.ArrayBuffer.empty[Int]).toMap
      var passes = 0
      val t0 = System.nanoTime()
      while (elapsedS(t0) < o.seconds || passes < minPasses) {
        queries.foreach { n =>
          oracleOps(n) = oracleOps.getOrElse(n, 0L) + (if (o.trace) 2 else 1)
          val c0 = System.nanoTime()
          op[Boolean](identity)(call(n)).foreach(_ => plain(n) += elapsedS(c0))
          settle()
          if (o.trace) {
            val id = tracer.newCall()
            op[Boolean](identity)(withListener(tracer.span("query")(call(n))))
              .foreach(_ => traced(n) += id)
            settle()
          }
        }
        passes += 1
      }
      val suite = queries.map(n => median(plain(n).toSeq)).sum
      if (!o.trace) {
        val all = plain.values.flatten.toSeq.map(_ * 1000)
        Seq(
          Metric("rows_per_s", want.values.map(_._1).sum / suite, "1/s"),
          Metric("call_p50_ms", median(all), "ms"),
          Metric("suite_s", suite, "s"),
          okFrac)
      } else {
        val perQuery = queries.flatMap { n =>
          val spans = traced(n).toSeq.map(tracer.get(_, "query"))
          val s = sparkLayers(spans.map(_ -> None))
          Seq(
            Metric(s"queries.${n}_s", median(spans.map(_.ns / 1e9)), "s"),
            Metric(s"queries.${n}_jobs", median(s.jobs), "count"),
            Metric(s"queries.${n}_driver_gap_s", median(s.gapsS), "s"))
        }
        val all = sparkLayers(queries.flatMap(traced(_)).map(id =>
          tracer.get(id, "query") -> None))
        val tracedSuite = queries.map(n =>
          median(traced(n).toSeq.map(tracer.ns(_, "query") / 1e9))).sum
        perLayer(perQuery ++ all.metrics :+
          Metric("trace.overhead_frac", tracedSuite / suite - 1, "ratio"))
      }
    }
    Workload(measure, pass)
  }

  def pipelineQ154(): Workload =
    pipeline(new File(o.data, "sf0.01").getAbsolutePath, PipelineQueries,
      warmPasses = 6, minPasses = 7)
}

object Workloads {
  /** A workload after its set-up: `measure` runs the timed loop and
    * returns its metrics; `call` makes one untimed, checked operation
    * (a load, or a pass over the queries). */
  final case class Workload(measure: () => Seq[Main.Metric], call: () => Unit)

  val LineitemQuery = "select * from lineitem"
  val PartitionCol = "l_orderkey"
  val PipelineQueries = Seq("q154_span_extent_audit")

  /** The per-layer metrics a traced run reports, with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.minmax_ms" -> "ms", "sources.build_df_ms" -> "ms",
    "plans.plan_ms" -> "ms", "plans.partitions" -> "count",
    "sources.fetch_ms" -> "ms", "sources.rows_read_per_row" -> "ratio",
    "sources.speedup_4v1" -> "ratio", "arrow.encode_collect_ms" -> "ms",
    "arrow.batches_per_partition" -> "ratio", "arrow.bytes_per_row" -> "B",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_ms" -> "ms", "spark.cpu_per_run" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
  ) ++ PipelineQueries.flatMap(n => Seq(s"queries.${n}_s" -> "s",
    s"queries.${n}_jobs" -> "count", s"queries.${n}_driver_gap_s" -> "s")) :+
    ("trace.overhead_frac" -> "ratio")

  def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
