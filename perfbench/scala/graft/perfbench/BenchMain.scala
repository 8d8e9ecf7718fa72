package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM (see perfbench/README.md).
  *
  * Usage: BenchMain --workload W --input DIR --work DIR --seconds N
  *          --trace 0|1 --t0 EPOCH_MS --result FILE [--fault throw|wrong_rtp]
  *
  * Set-up runs from process start (`--t0`, taken by the launcher just
  * before it started this JVM) to the end of the workload's set-up (a
  * warm-up operation; for `pol_push` the initial full run), less the
  * time spent preparing inputs. Then operations run until `--seconds`
  * have passed (at least the workload's `minOps`): each is prepared,
  * timed and checked. An operation that throws or whose output fails its
  * check counts as failed and contributes no time; the workload then
  * recovers, untimed, before the next one. With `--trace 1` half the
  * seconds go to untraced and half to traced operations (at least
  * `minOps` and one), and the result is the per-layer numbers. A run in
  * which set-up or every operation fails still writes a result, with the
  * failures and without the metrics it could not measure.
  */
object BenchMain {
  final case class Op(seconds: Double, rows: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val input = Paths.get(opts("input"))
    val work = Paths.get(opts("work"))
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val t0 = opts("t0").toLong
    val fault = opts.getOrElse("fault", "none")
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = session(cpus, work)
    val genMs = if (workload == "curate") timeMs(jsonlToParquet(spark, input)) else 0L
    val wl = Workloads(workload, input)
    var attempted = 0
    var failed = 0
    val firstFailures = ArrayBuffer.empty[String]
    def writeResult(metrics: Map[String, (Double, String)], opS: Seq[Double], timed: Int,
        setupS: Option[Double]): Unit = {
      val report = Map(
        "attempted" -> attempted, "failed" -> failed,
        "timed_ops" -> timed,
        "setup_s" -> setupS,
        "op_s" -> opS,
        "tail_rank" -> tailRank(opS.size),
        "failures" -> firstFailures.toSeq,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(Paths.get(opts("result")).toFile, report)
    }
    def why(e: Exception): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

    try wl.setup(spark, work.resolve("setup"))
    catch {
      case e: Exception =>
        attempted = 1; failed = 1
        firstFailures += s"set-up: ${why(e)}"
        spark.stop()
        writeResult(Map.empty, Nil, 0, None)
        return
    }
    val setupS = (System.currentTimeMillis() - t0 - genMs) / 1000.0
    val layerSamples = ArrayBuffer.empty[Map[String, Double]]
    var broken = false
    def measure(traced: Option[Tracer], base: Int, limit: Double, minOps: Int): Seq[Op] = {
      val ops = ArrayBuffer.empty[Op]
      val begin = System.nanoTime()
      var i = base
      while (!broken && ((System.nanoTime() - begin) / 1e9 < limit || i - base < minOps)) {
        attempted += 1
        val outcome = try {
          wl.prepare(i)
          traced.foreach(_.clear())
          val gc0 = gcMs()
          val s = System.nanoTime()
          if (fault == "throw" && i == base) sys.error("planted failure")
          val rows = traced.fold(wl.run(i))(t => wl.runTraced(i, t))
          val dt = (System.nanoTime() - s) / 1e9
          val gc = gcMs() - gc0
          if (fault == "wrong_rtp" && i == base) wl.plantWrongRtp(i)
          val errors = wl.check(i)
          if (errors.nonEmpty) Left(errors.take(3).mkString("; "))
          else {
            traced.foreach(t => layerSamples += reduce(wl, t, gc))
            Right(Op(dt, rows))
          }
        } catch { case e: Exception => Left(why(e)) }
        outcome match {
          case Right(op) => ops += op
          case Left(msg) =>
            failed += 1
            if (firstFailures.size < 3) firstFailures += s"op $i: $msg"
            // a workload that cannot recover ends the run
            try wl.recover(i)
            catch {
              case e: Exception =>
                broken = true
                firstFailures += s"recovery after op $i: ${why(e)}"
            }
        }
        i += 1
      }
      ops.toSeq
    }

    val untraced = measure(None, 0, if (trace) seconds / 2 else seconds, wl.minOps)
    var tracedOps = 0
    val metrics: Map[String, (Double, String)] =
      if (untraced.isEmpty) (if (trace) Map.empty else Map("setup_s" -> (setupS -> "s")))
      else if (!trace) Map(
        "setup_s" -> (setupS -> "s"),
        "rows_per_s" -> (median(untraced.map(o => o.rows / o.seconds)) -> "rows/s"),
        "op_p50_s" -> (median(untraced.map(_.seconds)) -> "s"),
        "op_tail_s" -> (tail(untraced.map(_.seconds)) -> "s"))
      else {
        val tracer = new Tracer(spark)
        val traced = measure(Some(tracer), 100000, seconds / 2, 1)
        tracer.stop()
        tracedOps = traced.size
        if (traced.isEmpty) Map.empty
        else {
          val keys = layerSamples.flatMap(_.keys).distinct
          keys.map(k => k -> (median(layerSamples.flatMap(_.get(k)).toSeq) -> unitOf(k))).toMap ++
            Map("trace.overhead_s" ->
              ((median(traced.map(_.seconds)) - median(untraced.map(_.seconds))) -> "s"))
        }
      }
    spark.stop()
    writeResult(metrics, untraced.map(_.seconds), untraced.size + tracedOps, Some(setupS))
  }

  private def reduce(wl: Workload, t: Tracer, gcMs: Long): Map[String, Double] = {
    t.drain()
    val op = t.named("op").head
    allLayers.map(_ -> 0.0).toMap ++ Workloads.sparkLayers(t, op, gcMs) ++ wl.layers(t)
  }

  /** Every per-layer metric, in every workload's traced result; a layer
    * a workload never calls reports 0.
    */
  val allLayers: Seq[String] = Seq(
    "PolParser.parse_s", "PolParser.lines_parsed", "PolParser.lines_dropped",
    "PolParser.scan_amplification", "PolParser.list_s", "PolParser.files_listed",
    "PoolMetrics.per_pool_s", "PoolMetrics.hist_rows", "PoolMetrics.shuffle_bytes",
    "GameLookup.resolve_s", "GameLookup.hit_share", "PoolSummary.aggregate_s",
    "ChangedFiles.detect_s", "ChangedFiles.changed_files", "ChangedFiles.ledger_write_s",
    "PoolJsonSink.upsert_s", "PoolJsonSink.bytes_written", "PoolJsonSink.write_amplification",
    "PoolJsonSink.merge_create_s", "PoolJsonSink.merge_existing_s",
    "PoolJsonSink.files_written", "PoolJsonSink.table_bytes_written",
    "CurateMain.gate_s", "CurateMain.gate_pass_share", "CurateMain.dedup_s",
    "CurateMain.dup_share", "CurateMain.decontam_s", "CurateMain.quarantine_share",
    "spark.planning_s", "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_bytes", "spark.spill_bytes", "spark.driver_only_s",
    "trace.overhead_s", "trace.uncovered_s")

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_written")) "bytes"
    else if (k.endsWith("_share") || k.endsWith("_amplification")) "ratio"
    else "count"

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no successful operation to measure")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 0-based rank of the tail sample: the highest one with at least
    * ten samples above it, or the largest sample when the run has
    * fewer than eleven.
    */
  def tailRank(n: Int): Int = if (n >= 11) n - 11 else n - 1

  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no successful operation to measure")
    xs.sorted.apply(tailRank(xs.size))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def timeMs(body: => Unit): Long = {
    val s = System.currentTimeMillis()
    body
    System.currentTimeMillis() - s
  }

  private def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Input preparation for `curate`: the generator writes JSON lines;
    * the pipeline reads `documents.parquet`. Not part of set-up time.
    */
  private def jsonlToParquet(spark: SparkSession, input: Path): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).json(input.resolve("documents.jsonl").toString)
      .coalesce(1).write.parquet(input.resolve("corpus").resolve("documents.parquet").toString)
  }
}
