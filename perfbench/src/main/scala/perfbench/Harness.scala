package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

import graft.StockPipeline
import graft.ingest.{Normalize, PayloadReader}
import graft.load.Catalog
import graft.schema.StockSchemas

/** Benchmark harness: one JVM runs one workload and writes its raw
  * measurements as JSON. `perfbench/run.py` prepares the inputs, starts
  * this with a spec file, then checks and summarizes the result.
  *
  * The system is driven only through its public entry points and timed
  * from outside: `StockPipeline.run`, `PayloadReader`, `Normalize` and
  * `Catalog` for the ETL path; `SparkEntry.queries` plus a `noop` write for
  * the query path.
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val cores = spec.get("cores").asInt
    // Session settings of graft.Bench / graft.Verify.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, spec)
    try run.execute()
    finally {
      Files.writeString(Paths.get(spec.get("out").asText), mapper.writeValueAsString(run.result))
      spark.stop()
    }
  }
}

final class Run(spark: SparkSession, spec: JsonNode) {
  private val workload = spec.get("workload").asText
  private val cores = spec.get("cores").asInt
  private val seconds = spec.get("seconds").asDouble
  private val tracing = spec.get("trace").asBoolean
  private val tracer = new Tracer
  private val recorder = if (tracing) Some(new Recorder) else None
  recorder.foreach { r =>
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
  }

  val result = mutable.LinkedHashMap[String, Any]()
  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[String]()
  // Per traced operation: counts the harness itself observes.
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val gcPerOp = mutable.ArrayBuffer[Long]()
  private var heap: HeapSampler = _

  private var checksRun = 0
  private var checksFailed = 0

  private def fail(msg: String): Unit = if (failures.size < 50) failures += msg

  /** One output check outside the timed operations. */
  private def expect(ok: Boolean, msg: => String): Unit = {
    checksRun += 1
    if (!ok) { checksFailed += 1; fail(msg) }
  }

  private def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  def execute(): Unit = {
    result("session_ready_ms") = System.currentTimeMillis()
    result("jvm_start_ms") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    result("spark_version") = spark.version
    result("cores") = cores
    result("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    workload match {
      case "freeze"          => freeze()
      case "etl_incremental" => new Etl().run()
      case _                 => new Queries().run()
    }
    result("ops") = ops.toSeq
    result("checks_run") = checksRun
    result("checks_failed") = checksFailed
    result("failures") = failures.toSeq
    result("rss_peak_mb") = Jvm.rssPeakMb()
    if (tracing) result("layers") = layers()
  }

  /** A traced run traces operations (or passes) in the order untraced,
    * traced, traced, untraced, repeated, so a steady drift in speed cancels
    * out of `trace.overhead_ms`; the loop ends on a whole group of four.
    */
  private def traced(i: Int): Boolean = tracing && ((i + 1) / 2) % 2 == 1
  private def more(i: Int, t0: Long): Boolean =
    i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || (tracing && i % 4 != 0)

  /** Times `body` as operation `index` of the measured loop. */
  private def op(name: String, index: Int, traced: Boolean)(body: => Boolean): Double = {
    tracer.on = traced
    tracer.beginOp(index)
    val gc0 = Jvm.gcMillis()
    val t0 = System.nanoTime()
    val ok =
      try tracer.span("op")(body)
      catch { case e: Exception => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) gcPerOp += Jvm.gcMillis() - gc0
    tracer.on = false
    ops += Map("name" -> name, "ms" -> ms, "ok" -> ok, "traced" -> traced)
    ms
  }

  private def startMeasure(): Unit = {
    result("setup_end_ms") = System.currentTimeMillis()
    heap = new HeapSampler
    heap.start()
  }

  private def endMeasure(t0: Long): Unit = {
    result("measure_s") = (System.nanoTime() - t0) / 1e9
    result("heap_peak_mb") = heap.finish() / 1048576.0
  }

  // ---------------------------------------------------------------- queries

  /** Order-insensitive result fingerprint: row count and the sum of a
    * 64-bit hash per row, with top-level floating columns rounded to six
    * decimals so the last bits of a float sum cannot flip it. It is
    * observed on the same `noop` write the timed operations run, so the
    * check also warms their plans.
    */
  private def checksum(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.indices.map { i =>
      val c = df.col(df.columns(i))
      df.schema.fields(i).dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _                      => c
      }
    }
    val h = xxhash64(struct(cols: _*).cast("string")).cast(DecimalType(38, 0))
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), sum(h).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("n").asInstanceOf[Long], Option(r("h")).fold("0")(_.asInstanceOf[java.math.BigDecimal].toPlainString))
  }

  private def freeze(): Unit = {
    val dir = spec.get("corpus_dir").asText
    val qs = graft.SparkEntry.queries
    result("goldens") = strs(spec.get("queries")).map { name =>
      val t0 = System.nanoTime()
      val v: Map[String, Any] =
        try {
          val (n, h) = checksum(qs(name)(spark, dir))
          Map("rows" -> n, "hash" -> h, "s" -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Exception => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      name -> v
    }.toMap
  }

  private final class Queries {
    private val dir = spec.get("corpus_dir").asText
    private val names = strs(spec.get("queries"))
    private val goldens = spec.get("goldens")
    private val fns = graft.SparkEntry.queries
    private val checkSeconds = mutable.LinkedHashMap[String, Double]()

    /** Correctness pass, untimed; it also warms the JIT and file caches. */
    private def check(): Unit = names.foreach { name =>
      val g = Option(goldens.get(name))
      val t0 = System.nanoTime()
      try {
        val (n, h) = checksum(fns(name)(spark, dir))
        expect(g.exists(g => g.get("rows").asLong == n && g.get("hash").asText == h),
          s"$name: result rows=$n hash=$h, golden ${g.getOrElse("missing")}")
      } catch { case e: Exception => expect(false, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      checkSeconds += name -> (System.nanoTime() - t0) / 1e9
    }

    private def evaluate(name: String): Boolean = {
      val df = tracer.span("build")(fns(name)(spark, dir))
      if (tracer.on)
        counts("analysis_ms") += df.queryExecution.tracker.phases.get("analysis").fold(0L)(_.durationMs)
      tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
      true
    }

    def run(): Unit = {
      check()
      result("check_s") = checkSeconds.toSeq
      startMeasure()
      val t0 = System.nanoTime()
      var pass = 0
      var i = 0
      // Whole passes only, so every query weighs the same in every run.
      while (more(pass, t0)) {
        names.foreach { name => op(name, i, traced(pass))(evaluate(name)); i += 1 }
        pass += 1
      }
      endMeasure(t0)
    }
  }

  // -------------------------------------------------------------------- ETL

  private final class Etl {
    private val base = spec.get("tables_dir").asText

    private def frames(b: JsonNode): Seq[DataFrame] =
      Seq("daily", "intraday", "sma").map(e =>
        PayloadReader.fromJsonLines(spark, b.get("files").get(e).asText))

    /** One `StockPipeline.run` call; rows inserted per table. */
    private def ingest(root: String, b: JsonNode): Map[String, Long] = {
      val Seq(d, i, s) = frames(b)
      StockPipeline.run(spark, root, d, i, s).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    /** The reference's exemplar read: latest ten daily bars of a symbol. */
    private def readback(root: String, symbol: String): Seq[Seq[String]] =
      spark.read.schema(StockSchemas.dailyStockPrices)
        .parquet(Catalog.tablePath(root, "daily_stock_prices"))
        .where(col("company_symbol") === symbol)
        .orderBy(col("date").desc)
        .limit(10)
        .collect().toSeq
        .map(r => Seq(r.getAs[java.sql.Date]("date").toString,
          r.getAs[java.math.BigDecimal]("close_price").toPlainString))

    private def parquetFiles(root: String): Seq[Path] = {
      val p = Paths.get(root)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally s.close()
      }
    }

    /** One batch: ingest plus read-back, checked against the generator. */
    private def batch(root: String, b: JsonNode): Boolean = {
      val exp = b.get("expected")
      val t0 = System.nanoTime()
      val inserted = tracer.span("pipeline")(ingest(root, b))
      counts("ingest_wall_s") += (System.nanoTime() - t0) / 1e9
      counts("inserted") += inserted.values.sum
      if (tracer.on) counts("traced_inserted") += inserted.values.sum
      val want = exp.get("inserted").properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      val rb = exp.get("readback")
      val got = tracer.span("readback")(readback(root, rb.get("symbol").asText))
      val wantRows = rb.get("rows").elements.asScala.map(r => strs(r)).toSeq
      var ok = true
      if (inserted != want) { fail(s"${b.get("name").asText}: inserted $inserted, expected $want"); ok = false }
      if (got != wantRows) { fail(s"${b.get("name").asText}: read-back $got, expected $wantRows"); ok = false }
      ok
    }

    /** After each traced batch, outside its timed operation, the ingest
      * layer runs on its own over the batch's payloads: the pipeline fuses
      * parsing into its load jobs, so this pass gives the layer's time and
      * what it accepts and rejects. Its span is not inside an `op` span,
      * so its jobs count in no other layer.
      */
    private def traceIngest(index: Int, b: JsonNode): Unit = {
      tracer.on = true
      tracer.beginOp(index)
      try tracer.span("ingest") {
        frames(b).zip(Seq("daily", "intraday", "sma")).foreach { case (f, e) =>
          val r = Normalize.rejects(f, e).agg(sum("input_rows"), sum("rejected_rows")).head()
          val in = if (r.isNullAt(0)) 0L else r.getLong(0)
          val rej = if (r.isNullAt(1)) 0L else r.getLong(1)
          counts("rows_in") += in
          counts("rows_rejected") += rej
          counts("rows_offered") += in - rej
        }
      } finally tracer.on = false
    }

    def run(): Unit = {
      // Warm-up on a separate table root: JIT, codegen and the read path.
      val warmRoot = spec.get("warm_dir").asText
      spec.get("warm").elements.asScala.foreach(b => expect(batch(warmRoot, b), "warm-up batch failed"))
      val batches = spec.get("batches").elements.asScala.toSeq
      startMeasure()
      val tb = System.nanoTime()
      expect(batch(base, batches.head), "backfill failed")
      result("backfill_s") = (System.nanoTime() - tb) / 1e9
      counts.clear()
      val t0 = System.nanoTime()
      var n = 0
      while (n + 1 < batches.size && more(n, t0)) {
        val b = batches(n + 1)
        val before = if (traced(n)) parquetFiles(base).size else 0
        op(b.get("name").asText, n, traced(n))(batch(base, b))
        if (traced(n)) {
          counts("files_written") += parquetFiles(base).size - before
          traceIngest(n, b)
        }
        n += 1
      }
      endMeasure(t0)
      expect(n + 1 < batches.size, "ran out of generated batches")
      result("ingest_wall_s") = counts("ingest_wall_s")
      result("rows_inserted") = counts("inserted")
      verify(batches.take(n + 1))
    }

    /** Untimed end-of-run checks of the stored tables. */
    private def verify(done: Seq[JsonNode]): Unit = {
      val last = done.last.get("expected")
      val checks = mutable.LinkedHashMap[String, Any]()
      var stored = 0L
      StockSchemas.tables.keys.toSeq.sorted.foreach { t =>
        val df = spark.read.schema(StockSchemas.tables(t)).parquet(Catalog.tablePath(base, t))
        val pk = StockSchemas.primaryKeys(t)
        val r = df.agg(count(lit(1)), countDistinct(col(pk.head), pk.tail.map(col): _*)).head()
        val want = last.get("table_rows").get(t).asLong
        stored += r.getLong(0)
        checks(s"rows.$t") = r.getLong(0)
        expect(r.getLong(0) == want, s"table $t holds ${r.getLong(0)} rows, expected $want")
        expect(r.getLong(1) == r.getLong(0), s"table $t has ${r.getLong(0) - r.getLong(1)} duplicate keys")
      }
      val replay = ingest(base, done.last)
      checks("replay_inserted") = replay.values.sum
      expect(replay.values.forall(_ == 0), s"replaying the last batch inserted $replay")
      Seq("daily", "intraday", "sma").foreach { e =>
        val files = done.map(_.get("files").get(e).asText)
        val payloads = PayloadReader.fromJsonStrings(spark, spark.read.textFile(files: _*))
        val r = Normalize.rejects(payloads, e).agg(sum("rejected_rows")).head()
        val rejected = if (r.isNullAt(0)) 0L else r.getLong(0)
        val want = done.map(_.get("expected").get("rejected").get(e).asLong).sum
        val envelopes = payloads.count() - PayloadReader.valid(payloads).count()
        checks(s"rejected.$e") = rejected
        checks(s"envelopes.$e") = envelopes
        expect(rejected == want, s"$e: $rejected rows rejected, $want injected")
        counts("envelopes") += envelopes
      }
      val wantEnvelopes = done.map(_.get("expected").get("envelopes").asLong).sum
      expect(counts("envelopes") == wantEnvelopes,
        s"${counts("envelopes")} envelopes skipped, $wantEnvelopes injected")
      val files = StockSchemas.tables.keys.toSeq.flatMap(t => parquetFiles(Catalog.tablePath(base, t)))
      result("stored_rows") = stored
      result("stored_bytes") = files.map(Files.size).sum
      result("target_files") = files.size
      result("checks") = checks.toMap
    }
  }

  // ----------------------------------------------------------------- layers

  /** Per-layer figures, averaged per traced operation. */
  private def layers(): Map[String, Any] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val rec = recorder.get
    val opSpans = tracer.spans.filter(s => s.name == "op")
    val nOps = math.max(1, opSpans.size).toDouble
    def secs(name: String) = tracer.spans.filter(_.name == name).map(_.seconds).sum
    // Only work inside timed operations counts; the ingest pass runs apart.
    def inOp(s: Span): Boolean =
      s.name == "op" || (s.parent >= 0 && inOp(tracer.spans(s.parent)))
    val jobs = rec.jobList.filter(_.endMs >= 0)
      .flatMap(j => tracer.at(j.submitMs).filter(inOp).map(j -> _))
    val stageJob = jobs.flatMap { case (j, _) => j.stages.map(_ -> j.id) }
      .groupBy(_._1).map { case (st, js) => st -> js.map(_._2).min }
    val jobIds = jobs.map(_._1.id).toSet
    val tasks = rec.tasks.asScala.toSeq.filter(t => stageJob.get(t.stage).exists(jobIds))
    val sinkJobs = jobs.collect { case (j, s) if s.name == "pipeline" && j.isSink => j }
    val sinkIds = sinkJobs.map(_.id).toSet
    // Busy time of sink jobs: union of their intervals, since the three
    // fact loads of one batch run concurrently.
    val sinkS = sinkJobs.map(j => (j.submitMs, j.endMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (a >= end) (acc + (b - a), b)
        else if (b > end) (acc + (b - end), b)
        else (acc, end)
      }._1 / 1000.0
    val plans = rec.plans.asScala.toSeq.filter(p => tracer.at(p.startMs).exists(inOp))
    val opWall = opSpans.map(_.seconds).sum
    val taskS = tasks.map(_.wallMs).sum / 1000.0
    val mb = 1048576.0
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val (tracedOps, untracedOps) = ops.partition(_("traced") == true)
    def mean(xs: Iterable[Map[String, Any]]) =
      if (xs.isEmpty) 0.0 else xs.map(_("ms").asInstanceOf[Double]).sum / xs.size
    result("spans") = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "s" -> s.seconds))
    result("jobs") = jobs.map { case (j, s) => Map("id" -> j.id, "span" -> s.id,
      "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "call_site" -> j.callSite, "sink" -> j.isSink) }
    Map(
      "ingest.s" -> secs("ingest") / nOps,
      "ingest.rows_in" -> counts("rows_in") / nOps,
      "ingest.rows_rejected" -> counts("rows_rejected") / nOps,
      "ingest.accept_ratio" -> ratio(counts("rows_offered"), counts("rows_in")),
      "load.s" -> (secs("pipeline") - sinkS) / nOps,
      "load.jobs" -> jobs.count { case (j, s) => s.name == "pipeline" && !sinkIds(j.id) } / nOps,
      "load.rows_offered" -> counts("rows_offered") / nOps,
      "load.rows_inserted" -> counts("traced_inserted") / nOps,
      "load.insert_ratio" -> ratio(counts("traced_inserted"), counts("rows_offered")),
      "load.target_files" -> result.getOrElse("target_files", 0),
      "sink.s" -> sinkS / nOps,
      "sink.files_written" -> counts("files_written") / nOps,
      "sink.bytes_written" -> tasks.filter(t => sinkIds(stageJob(t.stage))).map(_.outputB).sum / nOps,
      "queries.build_s" -> secs("build") / nOps,
      "queries.build_jobs" -> jobs.count(_._2.name == "build") / nOps,
      "catalyst.analysis_ms" -> (plans.map(_.analysisMs).sum + counts("analysis_ms")) / nOps,
      "catalyst.optimization_ms" -> plans.map(_.optimizationMs).sum / nOps,
      "catalyst.planning_ms" -> plans.map(_.planningMs).sum / nOps,
      "exec.s" -> (secs("exec") + secs("readback")) / nOps,
      "scheduler.jobs" -> jobs.size / nOps,
      "scheduler.tasks" -> tasks.size / nOps,
      "scheduler.task_s" -> taskS / nOps,
      "scheduler.ms_per_job" -> ratio(opWall * 1000, jobs.size),
      "scheduler.core_util" -> ratio(taskS, opWall * cores),
      "shuffle.read_mb" -> tasks.map(_.shuffleReadB).sum / mb / nOps,
      "shuffle.write_mb" -> tasks.map(_.shuffleWriteB).sum / mb / nOps,
      "shuffle.spill_mb" -> tasks.map(_.spillB).sum / mb / nOps,
      "jvm.gc_ms" -> gcPerOp.sum / nOps,
      "jvm.heap_peak_mb" -> result.getOrElse("heap_peak_mb", 0.0),
      "trace.overhead_ms" ->
        (if (tracedOps.isEmpty || untracedOps.isEmpty) 0.0 else mean(tracedOps) - mean(untracedOps)),
      "trace.ops" -> opSpans.size)
  }
}
