package connbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.ConnbenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one fresh JVM.
  *
  * Prints `CONNBENCH_PHASE <name> <seconds>` per set-up phase,
  * `CONNBENCH_READY <epoch ns>` when set-up ends and, as its last line,
  * `CONNBENCH_RESULT <json>` with the operation counts and the metrics.
  * connbench/run.py launches it and turns that line into the result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, cores: Int, runDir: File,
      csv: Option[String], traceOut: Option[File])

  final case class Metric(name: String, value: Double, unit: String) {
    def toJson: String = {
      val v = if (value.isNaN || value.isInfinite) "null" else value.toString
      s""""$name":{"value":$v,"unit":"$unit"}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    // The Derby import needs no Spark: overlap it with the session start.
    val fixture = o.csv.map(csv =>
      Future(Fixture.importCsv(csv))(ExecutionContext.global))
    val spark = phase("session") {
      SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName(s"connbench-${o.workload}")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(o.runDir, "spark-local").getAbsolutePath)
        .config("graft.artifacts.dir", new File(o.runDir, "artifacts").getAbsolutePath)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    val awaitFixture = () => fixture.foreach(f =>
      phase("derby_import_wait")(Await.result(f, Duration.Inf)))
    val bench = new Workloads(spark, o, tracer, awaitFixture)
    val workload = o.workload match {
      case "jdbc_bulk" => bench.jdbcBulk()
      case "parquet_bulk" => bench.parquetBulk()
      case "pipeline_q154" => bench.pipelineQ154()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    println(s"CONNBENCH_READY ${tracer.now()}")
    val measured = workload.measure()
    val metrics = if (o.trace) measured else measured :+ Metric("peak_rss_mb",
      median(Seq.fill(RssCalls)(callPeakRssMb(workload.call))), "MB")
    o.traceOut.foreach { f =>
      val w = new PrintWriter(f)
      try tracer.spans.foreach(s => w.println(s.toJson)) finally w.close()
    }
    spark.stop()
    val ms = metrics.map(_.toJson).mkString("{", ",", "}")
    val oracle = bench.oracleOps.map { case (n, k) => s""""$n":$k""" }
      .mkString("{", ",", "}")
    println(s"""CONNBENCH_RESULT {"attempted":${bench.attempted},""" +
      s""""failed":${bench.failed},"oracle":$oracle,"metrics":$ms}""")
  }

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("cores").toInt,
      new File(need("run-dir")), m.get("csv"), m.get("trace-out").map(new File(_)))
  }

  /** Time one set-up phase; run.py reports it on standard error. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally println(f"CONNBENCH_PHASE $name ${(System.nanoTime() - t0) / 1e9}%.3f")
  }

  /** Calls whose peak RSS is measured, after the timed loop. */
  val RssCalls = 3

  /** VmHWM, in MB, over one call made from a collected heap: the heap is
    * collected (G1 then returns what it does not need), the high-water
    * mark is reset to the current RSS, and `call` runs. The peak is what
    * the JVM retains plus what one call adds to it, and does not depend
    * on how far G1 grew the heap during the timed calls. */
  def callPeakRssMb(call: () => Unit): Double = {
    System.gc()
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    call()
    peakRssMb()
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}
