package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pol.{GameLookup, PolParser, PoolJsonSink, PoolMetrics, PoolSummary}
import graft.streaming.ChangedFiles

/** One benchmark workload. An operation is `prepare` (untimed), `run`
  * (timed, returns the input rows it completed), then `check`
  * (untimed, returns mismatches). After a failed operation `recover`
  * (untimed) restores the state the next operation expects, so that
  * one failure is charged to the operation that caused it. `runTraced`
  * does the same work as `run` split into forced, persisted layer calls
  * inside spans, and `layers` reduces one traced operation to
  * per-layer numbers.
  */
trait Workload {
  def setup(spark: SparkSession, dir: Path): Unit
  /** Operations a run times at least, however short `--seconds` is. */
  def minOps: Int = 1
  def prepare(i: Int): Unit = ()
  def run(i: Int): Long
  def check(i: Int): Seq[String]
  def recover(i: Int): Unit
  def runTraced(i: Int, t: Tracer): Long
  def layers(t: Tracer): Map[String, Double]
  /** Corrupt operation `i`'s output (benchmark self-test). */
  def plantWrongRtp(i: Int): Unit
}

object Workloads {
  val Ts = "2026-01-01T00:00:00+00:00"
  val OutName = "all_pools_data.json"

  def apply(name: String, input: Path): Workload = name match {
    case "pol_full" => new PolFull(input)
    case "pol_push" => new PolPush(input)
    case "curate" => new Curate(input)
    case other => sys.error(s"unknown workload $other")
  }

  def secs(ms: Long): Double = ms / 1000.0

  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def fileBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** The pool ids of an inventory, as `perPool` decodes them. */
  def poolIds(inventory: DataFrame): DataFrame =
    inventory.select(PoolMetrics.decodeFilename(col("file_name"))._1.as("pool_id"))

  /** Bytes of the documents as the sink renders them (the useful part
    * of what an upsert writes).
    */
  def docBytes(rows: Seq[Row]): Long =
    rows.map(r => PoolJsonSink.render(PoolJsonSink.docJson(r), 2)
      .getBytes(StandardCharsets.UTF_8).length.toLong).sum

  /** Replace the first numeric rtp in a documents JSON by 0.01. */
  def corruptRtp(file: Path): Unit = {
    val text = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
    val bad = text.replaceFirst("\"rtp\": [0-9][0-9.]*", "\"rtp\": 0.01")
    require(bad != text, s"no rtp to corrupt in $file")
    Files.write(file, bad.getBytes(StandardCharsets.UTF_8))
  }

  /** Layer numbers every traced operation reports, from its root span. */
  def sparkLayers(t: Tracer, op: Span, gcMs: Long): Map[String, Double] = {
    val ts = t.tasksIn(op)
    Map(
      "spark.planning_s" -> secs(t.planningMsIn(op)),
      "spark.jobs" -> t.jobsIn(op).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> secs(ts.map(_.runMs).sum),
      "spark.gc_s" -> secs(gcMs),
      "spark.shuffle_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.driver_only_s" -> secs(t.driverOnlyMs(op)),
      "trace.uncovered_s" -> secs(t.selfMs(op)))
  }

  def spanS(t: Tracer, name: String): Double = secs(t.named(name).map(_.dur).sum)
}

import Workloads._

/** Shared by the two `.pol` workloads: the generated lookup and the
  * expectations of the files as generated.
  */
abstract class PolWorkload(input: Path) extends Workload {
  protected val lookup: String = input.resolve("game_lookup.csv").toString
  protected val expected = Expected.readJson(input.resolve("expected.json"))
  protected var spark: SparkSession = _
  protected var dir: Path = _
  /** Counters of the last traced operation that are not spans. */
  protected val counts = collection.mutable.Map.empty[String, Double]

  protected def fileEntries: Map[String, PoolExpect] =
    expected.get("files").fields().asScala.map(e => e.getKey -> Expected.pool(e.getValue)).toMap

  /** The lookup layer on its own: resolve the inventory's pool ids. */
  protected def tracedLookup(t: Tracer, inventory: DataFrame): DataFrame = {
    val dim = t.span("GameLookup.load")(persisted(GameLookup.load(spark, lookup)))
    t.span("GameLookup.resolve") {
      val ids = poolIds(inventory).where(col("pool_id").isNotNull).distinct()
      val nIds = ids.count()
      val hit = GameLookup.resolved(dim, ids).count()
      counts("GameLookup.hit_share") = if (nIds == 0) 0.0 else hit.toDouble / nIds
    }
    dim
  }

  /** Parse layer with its observe() counters; `bytes` is the size of
    * the files the scan should read.
    */
  protected def tracedParse(t: Tracer, raw: => DataFrame, bytes: Long): DataFrame = {
    val parsed = t.span("PolParser.parse")(persisted(PolParser.parseObserved(raw)))
    val s = t.named("PolParser.parse").last
    t.drain()
    val obs = t.observed.filter(o => o._1 >= s.start && o._1 <= s.end).map(_._2)
    counts("PolParser.lines_parsed") = obs.flatMap(_.get("lines_parsed")).sum.toDouble
    counts("PolParser.lines_dropped") = obs.flatMap(_.get("lines_dropped")).sum.toDouble
    counts("PolParser.scan_amplification") =
      t.tasksIn(s).map(_.bytesRead).sum.toDouble / math.max(1L, bytes)
    parsed
  }

  protected def tracedMetrics(t: Tracer, parsed: DataFrame, dim: DataFrame,
      files: DataFrame): Seq[Row] = {
    val pools = t.span("PoolMetrics.perPool")(
      persisted(PoolMetrics.perPool(parsed, dim, Some(files))))
    val s = t.named("PoolMetrics.perPool").last
    t.drain()
    counts("PoolMetrics.shuffle_bytes") = t.tasksIn(s).map(_.shuffleWrite).sum.toDouble
    val rows = t.span("PoolMetrics.documents")(
      PoolMetrics.documents(pools, Some(Ts))
        .orderBy(col("metadata.source_file")).collect().toSeq)
    pools.unpersist()
    rows
  }

  protected def tracedUpsert(t: Tracer, rows: Seq[Row], file: Path): Unit = {
    t.span("PoolJsonSink.upsert")(PoolJsonSink.upsert(rows, file))
    counts("PoolJsonSink.bytes_written") = Files.size(file).toDouble
    counts("PoolJsonSink.write_amplification") =
      Files.size(file).toDouble / math.max(1L, docBytes(rows))
  }

  protected def polLayers(t: Tracer): Map[String, Double] = Map(
    "PolParser.list_s" -> spanS(t, "PolParser.listFiles"),
    "PolParser.parse_s" -> spanS(t, "PolParser.parse"),
    "PoolMetrics.per_pool_s" -> spanS(t, "PoolMetrics.perPool"),
    "GameLookup.resolve_s" -> spanS(t, "GameLookup.resolve"),
    "PoolJsonSink.upsert_s" -> spanS(t, "PoolJsonSink.upsert"),
    "PoolSummary.aggregate_s" -> spanS(t, "PoolSummary.aggregate")) ++ counts

  /** Counts the histogram the metrics stage aggregates to, outside the
    * operation's span, then drops the persisted layer outputs.
    */
  protected def release(t: Tracer, parsed: DataFrame, frames: Seq[DataFrame]): Unit = {
    counts("PoolMetrics.hist_rows") = t.span("trace.bookkeeping")(
      parsed.select("relative_path", "game_win").distinct().count()).toDouble
    frames.foreach(_.unpersist())
  }

  def plantWrongRtp(i: Int): Unit = corruptRtp(outFile(i))
  protected def outFile(i: Int): Path
}

/** Full rescan: scan → parse → per-pool metrics → documents JSON +
  * summary, the `PolMain <root> <lookup> <out>` path, into a fresh
  * output directory per operation.
  */
final class PolFull(input: Path) extends PolWorkload(input) {
  private val root = input.resolve("pools").toString
  private val expect = fileEntries
  private val lines: Long = expected.get("files").elements().asScala.map(Expected.lines).sum
  private val corpusBytes = fileBytes(input.resolve("pools"))

  protected def outFile(i: Int): Path = dir.resolve(s"op$i").resolve(OutName)

  /** Rescans keep getting faster for several operations after the
    * warm-up one; the median of two, their mean, varies less between
    * runs than one operation's time.
    */
  override def minOps: Int = 2

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s; dir = d
    run(-1)
    Checks.require(check(-1))
  }

  def run(i: Int): Long = {
    val out = outFile(i).getParent
    val dim = GameLookup.load(spark, lookup)
    val parsed = PolParser.parseObserved(PolParser.readRaw(spark, root))
    val inventory = PolParser.listFiles(spark, root)
    val pools = PoolMetrics.perPool(parsed, dim, Some(inventory)).persist()
    try {
      val docs = PoolMetrics.documents(pools, Some(Ts))
      val rows = docs.orderBy(col("metadata.source_file")).collect().toSeq
      val n = PoolJsonSink.upsert(rows, out.resolve(OutName))
      writeSummary(docs, n, out)
    } finally pools.unpersist()
    lines
  }

  private def writeSummary(docs: DataFrame, n: Int, out: Path): Unit = {
    val agg = PoolSummary.aggregate(docs, Some(Ts)).collect()(0)
    PoolJsonSink.writeSummary(
      PoolJsonSink.summaryJson(Ts, n, n, 0, Nil, Seq(OutName), agg),
      out.resolve("_pipeline_summary.json"))
  }

  def check(i: Int): Seq[String] = {
    val out = outFile(i).getParent
    try {
      val docs = Expected.readDocs(out.resolve(OutName))
      val keys = if (docs.keySet == expect.keySet) Nil
        else Seq(s"documents for ${docs.keySet.size} files, expected ${expect.keySet.size}")
      val agg = Expected.readJson(out.resolve("_pipeline_summary.json")).get("aggregated")
      val total = expect.values.map(_.size).sum
      val summary =
        if (agg.get("total_records_across_all_files").asLong == total &&
          agg.get("total_files_processed").asLong == expect.size) Nil
        else Seq(s"summary $agg, expected $total records in ${expect.size} files")
      keys ++ summary ++ expect.toSeq.flatMap { case (p, e) =>
        docs.get(p).toSeq.flatMap(Expected.diff(p, _, e))
      }
    } finally deleteTree(out)
  }

  def recover(i: Int): Unit = deleteTree(outFile(i).getParent)

  def runTraced(i: Int, t: Tracer): Long = {
    val out = outFile(i).getParent
    val (parsed, frames) = t.span("op") {
      val inventory = t.span("PolParser.listFiles")(persisted(PolParser.listFiles(spark, root)))
      counts("PolParser.files_listed") = inventory.count().toDouble
      val dim = tracedLookup(t, inventory)
      val parsed = tracedParse(t, PolParser.readRaw(spark, root), corpusBytes)
      val rows = tracedMetrics(t, parsed, dim, inventory)
      tracedUpsert(t, rows, out.resolve(OutName))
      t.span("PoolSummary.aggregate") {
        val docs = spark.createDataFrame(rows.asJava, rows.head.schema)
        writeSummary(docs, rows.size, out)
      }
      (parsed, Seq(inventory, dim, parsed))
    }
    release(t, parsed, frames)
    lines
  }

  def layers(t: Tracer): Map[String, Double] = polLayers(t)
}

/** Changed-files runs, one push at a time (closed loop, one client):
  * push `i` copies its pre-generated file into the live pool tree with
  * a fresh mtime, then one `ChangedFiles.runOnce` lists, diffs against
  * the ledger, parses the changed file, upserts its document into the
  * consolidated JSON and rewrites the ledger.
  */
final class PolPush(input: Path) extends PolWorkload(input) {
  private val pushes = expected.get("pushes").elements().asScala.toIndexedSeq
  private var live: Path = _
  private var pushNo = 0
  private var mtime = 0L
  /** Documents the JSON must hold after the latest push. */
  private val state = collection.mutable.Map.empty[String, PoolExpect]
  private val pushOf = collection.mutable.Map.empty[Int, Int]

  private def ledger: String = dir.resolve("ledger").toString
  protected def outFile(i: Int): Path = dir.resolve("out").resolve(OutName)

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s; dir = d
    live = d.resolve("pools")
    copyTree(input.resolve("pools"), live)
    mtime = 1700000000000L
    state.clear()
    state ++= fileEntries
    fullRun()
  }

  /** No warm-up push: the initial full run warms most of `runOnce`, and
    * the first push, slower by the rest, is the slowest of the four a
    * run times at least. In the generated order they are two modifies,
    * the push to a pool the lookup misses (the fastest kind) and an add
    * (see gen.py), so the median is the mean of two pushes with a hit.
    */
  override def minOps: Int = 4

  /** A changed-files run with no ledger and no JSON: every file of the
    * live tree is processed, as on the first CI run.
    */
  private def fullRun(): Unit = {
    deleteTree(java.nio.file.Paths.get(ledger))
    Files.deleteIfExists(outFile(0))
    val n = ChangedFiles.runOnce(spark, live.toString, lookup, outFile(0), ledger, Some(Ts))
    require(n == state.size, s"full run processed $n files, expected ${state.size}")
    Checks.require(checkState())
  }

  /** The live tree already holds push `i`; rebuild the ledger and the
    * JSON from it, so the next push is again the only change.
    */
  def recover(i: Int): Unit = fullRun()

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Apply the next push of the generated sequence (cycling; a repeated
    * add lands as a modify). The mtime moves forward by a second per
    * push, so the ledger sees every push as a change.
    */
  override def prepare(i: Int): Unit = {
    val k = pushNo % pushes.size
    pushNo += 1
    val p = pushes(k)
    val rel = p.get("path").asText
    val src = input.resolve("pushes").resolve(f"$k%04d").resolve(rel)
    val dst = live.resolve(rel)
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    mtime += 1000
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    state(rel) = Expected.pool(p.get("expect"))
    pushOf(i) = k
  }

  private def pushLines(i: Int): Long = Expected.lines(pushes(pushOf(i)).get("expect"))

  def run(i: Int): Long = {
    val n = ChangedFiles.runOnce(spark, live.toString, lookup, outFile(i), ledger, Some(Ts))
    require(n == 1, s"push $i processed $n files, expected 1")
    pushLines(i)
  }

  def check(i: Int): Seq[String] = checkState()

  /** Every document of the consolidated JSON against the state the
    * pushes so far should have left.
    */
  private def checkState(): Seq[String] = {
    val docs = Expected.readDocs(outFile(0))
    val count = if (docs.size == state.size) Nil
      else Seq(s"${docs.size} documents, expected ${state.size}")
    count ++ state.toSeq.flatMap { case (p, e) =>
      docs.get(p).fold(Seq(s"$p: document missing"))(Expected.diff(p, _, e))
    }
  }

  /** `runOnce`'s sequence rebuilt from its public calls, each layer
    * forced and persisted.
    */
  def runTraced(i: Int, t: Tracer): Long = {
    val (parsed, frames) = t.span("op") {
      val inventory = t.span("PolParser.listFiles")(persisted(PolParser.listFiles(spark, live.toString)))
      counts("PolParser.files_listed") = inventory.count().toDouble
      val old = t.span("ChangedFiles.loadLedger")(persisted(ChangedFiles.loadLedger(spark, ledger)))
      val changed = t.span("ChangedFiles.detect")(persisted(ChangedFiles.detect(inventory, old)))
      val paths = changed.select("relative_path").collect().map(r => live.resolve(r.getString(0)).toString)
      counts("ChangedFiles.changed_files") = paths.length.toDouble
      require(paths.length == 1, s"push $i: ${paths.length} changed files, expected 1")
      val base = live.toAbsolutePath.toString
      val parsed = tracedParse(t, PolParser.pathMeta(
        spark.read.option("pathGlobFilter", "*.pol").text(paths.toIndexedSeq: _*)
          .select(col("value"),
            col("_metadata.file_path").as("abs_path"),
            col("_metadata.file_name").as("file_name"),
            col("_metadata.file_size").as("size_bytes"),
            col("_metadata.file_modification_time").as("modified_ts")), base),
        paths.map(p => Files.size(java.nio.file.Paths.get(p))).sum)
      val dim = tracedLookup(t, changed)
      val files = changed.select("relative_path", "file_name", "folder_path", "parent_folder")
      val rows = tracedMetrics(t, parsed, dim, files)
      tracedUpsert(t, rows, outFile(i))
      t.span("ChangedFiles.ledgerWrite") {
        val tmp = ledger + "__tmp"
        inventory.select("relative_path", "size_bytes", "modified_ts")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        deleteTree(java.nio.file.Paths.get(ledger))
        Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(ledger))
      }
      (parsed, Seq(inventory, old, changed, parsed, dim))
    }
    release(t, parsed, frames)
    pushLines(i)
  }

  def layers(t: Tracer): Map[String, Double] = polLayers(t) ++ Map(
    "ChangedFiles.detect_s" -> spanS(t, "ChangedFiles.detect"),
    "ChangedFiles.ledger_write_s" -> spanS(t, "ChangedFiles.ledgerWrite"))
}

/** `CurateMain` twice per operation: a fresh keyed table, then the
  * idempotent nightly re-MERGE into it.
  */
final class Curate(input: Path) extends Workload {
  private val corpus = input.resolve("corpus").toString
  private val expected = Expected.readJson(input.resolve("expected.json"))
  private val nDocs = expected.get("docs").asLong
  private val survivors: Map[Long, String] =
    expected.get("survivors").fields().asScala.map(e => e.getKey.toLong -> e.getValue.asText).toMap
  private var spark: SparkSession = _
  private var dir: Path = _
  private var reports = Map.empty[Int, Seq[(String, String, Long, Long)]]
  private val counts = collection.mutable.Map.empty[String, Double]
  /** Set by the first traced operation; its check also runs the
    * program's `curated`, once per run.
    */
  private var traced = false
  private var copyChecked = false

  private def out(i: Int): Path = dir.resolve(s"op$i")

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s; dir = d
    run(-1)
    Checks.require(check(-1))
  }

  def run(i: Int): Long = {
    graft.llm.PerfbenchCurate.run(spark, corpus, out(i).toString)
    reports += i -> graft.llm.PerfbenchCurate.run(spark, corpus, out(i).toString)
    2 * nDocs
  }

  def check(i: Int): Seq[String] = try {
    val table = out(i).resolve("table").toString
    val got = PoolJsonSink.readTable(spark, table).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val total = reports(i).map(_._3).sum
    val rows = PoolJsonSink.tableRowCount(table)
    val diffs = (got.keySet ++ survivors.keySet).toSeq.sorted
      .filter(k => got.get(k) != survivors.get(k)).take(5)
      .map(k => s"doc $k: expected ${survivors.get(k)}, got ${got.get(k)}")
    val totals = if (total == survivors.size && rows.contains(total)) Nil
      else Seq(s"report total $total, table rows $rows, expected ${survivors.size}")
    (if (got.size == survivors.size) Nil
     else Seq(s"${got.size} survivors, expected ${survivors.size}")) ++ totals ++ diffs ++
      checkCopy()
  } finally { reports -= i; deleteTree(out(i)) }

  def recover(i: Int): Unit = { reports -= i; deleteTree(out(i)) }

  /** The traced copy of `curated`'s stages wrote the planted rows (the
    * table check above); the program's own `curated` must yield them
    * too, or the copy no longer follows the program.
    */
  private def checkCopy(): Seq[String] =
    if (!traced || copyChecked) Nil
    else {
      copyChecked = true
      val got = graft.llm.PerfbenchCurate.curated(spark, corpus).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      if (got == survivors) Nil
      else Seq(s"CurateMain.curated yields ${got.size} rows that differ from the" +
        s" ${survivors.size} planted survivors; the traced copy of its stages is stale")
    }

  def plantWrongRtp(i: Int): Unit = sys.error("curate writes no rtp")

  private def newFiles(table: Path, before: Set[Path]): Seq[Path] =
    Files.walk(table).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") && !before(p)).toSeq

  /** The pipeline of `CurateMain.curated` as its layer calls, each
    * forced and persisted, then `CurateMain.run`'s MERGE and report.
    * `curated` builds its stages inside one private method, so the
    * dedup and split stages below are a copy of its body; keep them in
    * sync with it. `checkCopy` runs the program's `curated` once per
    * traced run.
    */
  private def tracedPass(t: Tracer, i: Int, merge: String): Unit = {
    import graft.llm.TextQueries
    val s = spark
    val gated = t.span("CurateMain.gate") {
      val g = persisted(TextQueries.gopherFeatures(graft.Tables.documents(s, corpus))
        .where(col("pass") === 1).where(!graft.llm.PerfbenchCurate.isBenchDoc))
      counts("CurateMain.gate_pass_share") = g.count().toDouble / nDocs
      g
    }
    val survivors = t.span("CurateMain.dedup") {
      val d = persisted(gated.groupBy(unhex(md5(col("text"))).as("digest"))
        .agg(min(struct(col("doc_id"), col("source"), col("lang"),
          col("n_toks"), col("n_chars"), col("text"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.lang").as("lang"), col("r.n_toks").as("n_toks"),
          col("r.n_chars").as("n_chars"), col("r.text").as("text")))
      counts("CurateMain.dup_share") = 1.0 - d.count().toDouble / math.max(1L, gated.count())
      d
    }
    val verdict = t.span("CurateMain.decontam")(persisted(
      TextQueries.queries("x8_decontaminate")(s, corpus).select(col("doc_id"), col("contaminated"))))
    val rows = t.span("CurateMain.split")(persisted(survivors
      .join(verdict, Seq("doc_id"), "left")
      .withColumn("bucket", expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(coalesce(col("contaminated"), lit(0)) === 1, "quarantined")
          .when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"), col("source"), col("lang"),
        col("n_toks").cast("long").as("n_toks"), col("n_chars"), col("text"))))
    counts("CurateMain.quarantine_share") =
      rows.where(col("split") === "quarantined").count().toDouble / math.max(1L, rows.count())
    val table = out(i).resolve("table")
    val before = if (Files.exists(table)) Files.walk(table).iterator().asScala.toSet else Set.empty[Path]
    t.span(merge)(PoolJsonSink.upsertPartitioned(s, table.toString, rows, col("doc_id"), nBuckets = 16))
    val written = newFiles(table, before)
    counts("PoolJsonSink.files_written") += written.size
    counts("PoolJsonSink.table_bytes_written") += written.map(Files.size).sum
    val report = t.span("CurateMain.report") {
      val r = rows.groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .orderBy("split", "source").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      val json = r.map { case (sp, src, nd, nt) =>
        s"""{"split": "$sp", "source": "$src", "n_docs": $nd, "n_toks": $nt}"""
      }.mkString("[\n  ", ",\n  ", "\n]\n")
      Files.write(out(i).resolve("_curation_report.json"), json.getBytes(StandardCharsets.UTF_8))
      r
    }
    reports += i -> report
    Seq(gated, survivors, verdict, rows).foreach(_.unpersist())
  }

  def runTraced(i: Int, t: Tracer): Long = {
    counts("PoolJsonSink.files_written") = 0
    counts("PoolJsonSink.table_bytes_written") = 0
    t.span("op") {
      tracedPass(t, i, "PoolJsonSink.mergeCreate")
      tracedPass(t, i, "PoolJsonSink.mergeExisting")
    }
    traced = true
    2 * nDocs
  }

  def layers(t: Tracer): Map[String, Double] = Map(
    "CurateMain.gate_s" -> spanS(t, "CurateMain.gate"),
    "CurateMain.dedup_s" -> spanS(t, "CurateMain.dedup"),
    "CurateMain.decontam_s" -> spanS(t, "CurateMain.decontam"),
    "PoolJsonSink.merge_create_s" -> spanS(t, "PoolJsonSink.mergeCreate"),
    "PoolJsonSink.merge_existing_s" -> spanS(t, "PoolJsonSink.mergeExisting")) ++ counts
}

object Checks {
  /** Set-up and warm-up outputs must be right too; a mismatch there
    * ends the run.
    */
  def require(errors: Seq[String]): Unit =
    if (errors.nonEmpty) sys.error("output check failed: " + errors.take(5).mkString("; "))
}
