package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Helpers shared by the workloads. */
object Harness {
  /** The benchmark's own directory (medallion.sql lives there). */
  def benchDir: String = System.getProperty("perfbench.dir", "perfbench")

  @volatile var spark: SparkSession = _

  /** Tag the jobs `body` submits with a harness phase (see [[Counters]]). */
  def phase[T](p: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Counters.PhaseKey)
    sc.setLocalProperty(Counters.PhaseKey, p)
    try body finally sc.setLocalProperty(Counters.PhaseKey, prev)
  }

  def treeBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(f =>
        try java.nio.file.Files.size(f) catch { case _: java.io.IOException => 0L }).sum()
      finally s.close()
    }
  }
}

/** One measured op. */
final case class Rec(op: Long, name: String, cls: String, family: String, ms: Double,
    ok: Boolean, compileNs: Long, compiles: Long, traced: Boolean)

/** Runs one workload: set-up (including a warm-up pass), then closed-loop
  * passes with a single client: round(--seconds / passSeconds) whole
  * passes, at least one. With `--trace 1` those passes run with spans and Spark
  * listeners on and give the per-layer metrics; two more rounds of passes
  * then measure the tracing overhead. Writes its result as JSON to `--out`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --sf SF --out FILE [--expect FILE] [--record FILE] [--dump DIR]
  *        [--spans FILE]
  */
object Main {
  private def arg(m: Map[String, String], k: String, d: String = null): String =
    m.getOrElse(k, Option(d).getOrElse(throw new IllegalArgumentException(s"missing --$k")))

  def session(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      // scratch paths sit under the checkout, which is longer than a bare
      // temp dir; plan strings must still show the reflection markers the
      // registry rows require()
      .config("spark.sql.maxMetadataStringLength", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Harness.spark = s
    s
  }

  private def heapUsed(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  private def codegen(): (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads(arg(m, "workload"))
    val seed = arg(m, "seed").toLong
    val seconds = arg(m, "seconds").toDouble
    val traced = arg(m, "trace", "0") == "1"
    val dataDir = new java.io.File(arg(m, "data")).getAbsolutePath
    val sf = arg(m, "sf").toDouble
    val passes = math.max(1, math.round(seconds / workload.passSeconds).toInt)
    val cores = Runtime.getRuntime.availableProcessors()
    val tmp = System.getProperty("java.io.tmpdir")
    val expected = m.get("expect").map(f => Json.readFlat(f).map { case (k, v) => k -> Check.Fp.parse(v) })
      .getOrElse(Map.empty)
    val record = m.get("record").map { f =>
      val mm = mutable.LinkedHashMap.empty[String, String]
      if (new java.io.File(f).exists()) mm ++= Json.readFlat(f)
      mm
    }

    if (m.get("generate").contains("1")) {
      val spark = session(cores, tmp)
      Data.ensure(spark, dataDir, sf)
      spark.stop()
      return
    }

    m.get("dump").foreach(d => Json.writeFlat(s"$d/oracle_sql.json", graft.SparkEntry.oracleSql.toSeq))

    var spark: SparkSession = null
    var ctx: Ctx = null
    var opId = 0L
    var heapPeak = 0L
    // `traceOp(key)`: whether the op runs traced (listeners attached,
    // spans kept, bus drained after it); the key is the op's name and its
    // occurrence within the pass
    var counters: Counters = null
    def runPasses(ps: Seq[Int], traceOp: String => Boolean = _ => false): Seq[Rec] = {
      val recs = mutable.ArrayBuffer.empty[Rec]
      for (p <- ps) {
        val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
        workload.pass(ctx, p).foreach { op =>
          seen(op.name) += 1
          val tracing = traceOp(s"${op.name}#${seen(op.name)}")
          op.before()
          if (tracing) counters.attachTo(spark)
          Trace.enabled = tracing
          opId += 1
          Trace.currentOp = opId
          val sc = spark.sparkContext
          sc.setLocalProperty(Counters.OpKey, opId.toString)
          val (cg0, cc0) = codegen()
          val t0 = Trace.nowMs()
          val check = try Trace.span("op")(op.run()) catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] ${op.name} FAILED: $e")
              e.printStackTrace()
              () => false
          }
          val ms = Trace.nowMs() - t0
          val (cg1, cc1) = codegen()
          if (tracing) counters.detachFrom(spark)
          Trace.enabled = false
          Trace.currentOp = 0L
          sc.setLocalProperty(Counters.OpKey, null)
          // the check's own Spark work is neither timed nor counted
          val ok = try check() catch {
            case e: Throwable => System.err.println(s"[perfbench] ${op.name} check FAILED: $e"); false
          }
          op.after()
          System.err.println(f"[perfbench] pass $p%d ${op.name}%-24s $ms%9.1f ms${if (ok) "" else " FAILED"}")
          recs += Rec(opId, op.name, op.cls, op.family, ms, ok, cg1 - cg0, cc1 - cc0, tracing)
        }
        // a full GC after every pass: the next pass starts on a collected
        // heap, and the heap in use here is the live set
        System.gc()
        heapPeak = math.max(heapPeak, heapUsed())
      }
      recs.toSeq
    }

    // ---- set-up: session, fixtures and one warm-up pass in a fixed,
    // seed-independent order; the measured passes then run warm, so the
    // seed's permutation cannot move first-use costs between ops
    val t0 = System.nanoTime()
    spark = session(cores, tmp)
    ctx = new Ctx(spark, dataDir, sf, seed, cores, expected, record, m.get("dump"))
    val t1 = System.nanoTime()
    workload.setup(ctx)
    val t2 = System.nanoTime()
    val warmup = runPasses(Seq(-1))
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up ${setupS}%.1f s: session ${(t1 - t0) / 1e9}%.1f s, " +
      f"fixtures ${(t2 - t1) / 1e9}%.1f s, warm-up pass ${(System.nanoTime() - t2) / 1e9}%.1f s")
    heapPeak = 0L

    val out = mutable.LinkedHashMap.empty[String, Any]
    // Untraced: the measured passes. Traced: the same passes with spans and
    // listeners on (the per-layer numbers come from these, so they describe
    // the work the untraced run times), then the overhead passes below.
    val all = mutable.ArrayBuffer.empty[Rec] ++= warmup
    val measured = if (!traced) runPasses(0 until passes) else {
      counters = new Counters
      val before = workload.layers
      val tr = runPasses(0 until passes, _ => true)
      val after = workload.layers
      val trExtras = Metrics.extras(tr, passes, workload, heapPeak)
      out("extras") = trExtras
      val spans = Trace.spans.toSeq
      // overhead: the passes twice more, tracing half of the ops and then
      // the other half, so each op runs once each way and the drift of a
      // still-warming JVM cancels
      val half = (k: String) => (k.hashCode & 1) == 0
      val warm = runPasses(passes until 2 * passes, half) ++ runPasses(2 * passes until 3 * passes, k => !half(k))
      all ++= warm
      val (tracedWarm, plainWarm) = warm.partition(_.traced)
      out("metrics") = Metrics.layers(tr, spans, counters, cores, Metrics.delta(before, after), plainWarm, tracedWarm) ++
        Metrics.ExtraLayers.map { case (k, unit) => k -> trExtras.getOrElse(k, Map("value" -> 0.0, "unit" -> unit)) }
      out("span_table") = Metrics.spanTable(spans)
      m.get("spans").foreach(f => Json.writeLines(f, spans.map(s => Json.render(Map(
        "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "op" -> s.op)))))
      tr
    }
    all ++= measured
    val e2e = Metrics.endToEnd(measured, setupS)
    if (!traced) out("metrics") = e2e
    out("end_to_end") = e2e
    if (!traced) out("extras") = Metrics.extras(measured, passes, workload, heapPeak)
    out("attempted") = all.size
    out("failed") = all.count(!_.ok)
    out("ops") = measured.map(r => Map("name" -> r.name, "cls" -> r.cls, "ms" -> r.ms, "ok" -> r.ok))
    out("env") = Map(
      "cores" -> cores, "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "seed" -> seed, "sf" -> sf,
      "data_bytes" -> Data.tables.map(t => t -> Harness.treeBytes(s"$dataDir/$t.parquet")).toMap,
      "codegen_cache_max_entries" -> spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "passes" -> passes)
    record.foreach(r => Json.writeFlat(m("record"), r.toSeq))
    Json.writeLines(arg(m, "out"), Seq(Json.render(out.toMap)))
    spark.stop()
  }
}

object Stats {
  /** percentile, interpolated linearly between the closest ranks */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val x = p / 100.0 * (s.size - 1)
      val i = x.toInt
      if (i + 1 >= s.size) s.last else s(i) + (x - i) * (s(i + 1) - s(i))
    }
}

object Metrics {
  private def v(value: Double, unit: String): Map[String, Any] = Map("value" -> value, "unit" -> unit)

  def endToEnd(recs: Seq[Rec], setupS: Double): Map[String, Any] = {
    val ms = recs.map(_.ms)
    Map(
      "setup_s" -> v(setupS, "s"),
      "ops_per_s" -> v(recs.size / (ms.sum / 1000.0), "1/s"),
      "op_p50_ms" -> v(Stats.percentile(ms, 50), "ms"),
      "op_p95_ms" -> v(Stats.percentile(ms, 95), "ms"))
  }

  /** Values reported beside the contract metrics and, in the traced run,
    * among the per-layer ones: those defined on only some workloads, and
    * the heap, whose level after a GC depends on when Spark's cleaner
    * thread has dropped broadcast blocks and so cannot carry a bound. */
  def extras(recs: Seq[Rec], passes: Int, w: Workload, heapPeak: Long): Map[String, Any] = {
    def p50(cls: String) = Stats.percentile(recs.filter(_.cls == cls).map(_.ms), 50)
    val base = Map[String, Any](
      "error_rate" -> v(recs.count(!_.ok).toDouble / math.max(1, recs.size), "ratio"),
      "op_samples" -> v(recs.size.toDouble, "count"),
      "passes" -> v(passes.toDouble, "count"),
      "heap_peak_mb" -> v(heapPeak / 1048576.0, "MB"))
    val rw =
      if (recs.exists(_.cls == "write"))
        Map("commit_p50_ms" -> v(p50("write"), "ms"), "read_p50_ms" -> v(p50("read"), "ms"))
      else Map.empty
    base ++ rw ++ w.extras.map { case (k, (x, u)) => k -> v(x, u) }
  }

  /** Values the traced run also reports among the per-layer metrics. */
  val ExtraLayers = Seq("error_rate" -> "ratio", "commit_p50_ms" -> "ms", "read_p50_ms" -> "ms",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "heap_peak_mb" -> "MB")

  /** Change of the workload's own counters over the traced passes; the
    * chain length is a high-water mark, not a sum. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    Workloads.layerNames.map { k =>
      val a = after.getOrElse(k, 0.0)
      k -> (if (k == "sources.chain_len") a else a - before.getOrElse(k, 0.0))
    }.toMap

  def layers(recs: Seq[Rec], spans: Seq[Span], c: Counters, cores: Int, wl: Map[String, Double],
      plainWarm: Seq[Rec], tracedWarm: Seq[Rec]): Map[String, Any] = {
    val ops = recs.map(r => c.ops.getOrElse(r.op, new c.PerOp))
    def sum(f: c.PerOp => Long) = ops.map(f).sum.toDouble
    val inJob = ops.map(o => Counters.unionMs(o.jobIntervals.toSeq)).sum
    val opMs = recs.map(_.ms).sum
    val construct = spans.filter(_.name == "queries.construct").map(s => s.endMs - s.startMs).sum
    val runMs = sum(_.runMs)
    def fam(f: String) = recs.filter(_.family == f).map(_.ms).sum
    def opsPerS(rs: Seq[Rec]) = rs.size / (rs.map(_.ms).sum / 1000.0)
    val (plainOpsPerS, tracedOpsPerS) = (opsPerS(plainWarm), opsPerS(tracedWarm))
    val all = Map(
      "queries.construct_ms" -> construct,
      "queries.construct_jobs" -> sum(_.constructJobs),
      "spark.catalyst.analysis_ms" -> sum(_.analysisMs),
      "spark.catalyst.optimization_ms" -> sum(_.optimizationMs),
      "spark.catalyst.planning_ms" -> sum(_.planningMs),
      "spark.codegen.compile_ms" -> recs.map(_.compileNs).sum / 1e6,
      "spark.codegen.compiles" -> recs.map(_.compiles).sum.toDouble,
      "spark.scheduler.jobs" -> sum(_.jobs),
      "spark.scheduler.stages" -> sum(_.stages),
      "spark.scheduler.tasks" -> sum(_.tasks),
      "spark.scheduler.in_job_ms" -> inJob,
      "spark.scheduler.outside_job_ms" -> (opMs - inJob),
      "spark.task.run_ms" -> runMs,
      "spark.task.cpu_ms" -> sum(_.cpuNs) / 1e6,
      "spark.task.gc_ms" -> sum(_.gcMs),
      "spark.task.core_busy" -> (if (inJob > 0) runMs / (inJob * cores) else 0.0),
      "spark.task.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.task.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.task.spill_bytes" -> sum(_.spill),
      "operators.dedup_ms" -> fam("operators.dedup"),
      "operators.similarity_ms" -> fam("operators.similarity"),
      "functions.text_ms" -> fam("functions.text"),
      "ai.ms" -> fam("ai"),
      "trace.ops_per_s_untraced" -> plainOpsPerS,
      "trace.ops_per_s_traced" -> tracedOpsPerS,
      "trace.overhead_pct" -> 100.0 * (plainOpsPerS - tracedOpsPerS) / plainOpsPerS) ++ wl
    val units = (k: String) =>
      if (k.endsWith("_ms") || k == "ai.ms" || k.startsWith("sources.commit_ms") || k.startsWith("pipeline.stmt_ms")) "ms"
      else if (k.endsWith("_bytes") || k == "sources.bytes_written") "bytes"
      else if (k == "spark.task.core_busy") "ratio"
      else if (k.endsWith("_pct")) "%"
      else if (k.endsWith("ops_per_s_untraced") || k.endsWith("ops_per_s_traced")) "1/s"
      else "count"
    all.map { case (k, x) => k -> v(x, units(k)) }
  }

  /** Per span name: count, total and self time (duration minus the part
    * its child spans cover). */
  def spanTable(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val children = spans.filter(_.parent > 0).groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.endMs - s.startMs).sum
      val self = ss.map { s =>
        val cov = Counters.unionMs(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
        s.endMs - s.startMs - cov
      }.sum
      Map("span" -> name, "count" -> ss.size, "total_ms" -> total, "self_ms" -> self)
    }
  }
}

/** JSON of the result file and the flat fingerprint files. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def render(x: Any): String = Serialization.write(Extraction.decompose(x))

  def writeLines(file: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(file)
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }

  /** A JSON object of string values, keys sorted. */
  def writeFlat(file: String, kv: Seq[(String, String)]): Unit =
    writeLines(file, Seq(Serialization.writePretty(Extraction.decompose(TreeMap(kv: _*)))))

  def readFlat(file: String): Map[String, String] =
    JsonMethods.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(file))).extract[Map[String, String]]
}
