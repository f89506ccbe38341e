package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Q
import graft.sources.SnapshotTable

/** One timed operation. `cls` sorts it into the latency classes the
  * end-to-end metrics use (query, read, write, ddl); `family` groups
  * curation rows by the engine module they exercise. `run` is the timed
  * part; it returns the output check, which runs untimed and says whether
  * the output was right. `before` and `after` are untimed preparation and
  * clean-up. */
final case class Op(name: String, cls: String, family: String, run: () => (() => Boolean),
    before: () => Unit = () => (), after: () => Unit = () => ())

/** What a workload sees of the run: the live session, the generated data,
  * the run seed and the committed fingerprints. */
final class Ctx(val spark: SparkSession, val dataDir: String, val sf: Double, val seed: Long,
    val cores: Int, expected: Map[String, Check.Fp],
    val record: Option[mutable.Map[String, String]], val dump: Option[String]) {

  /** Materialize `df` (the timed result action); the returned check
    * compares its fingerprint with the committed one under `key`. */
  def fingerprinted(key: String, df: DataFrame): () => Boolean = {
    val fp = Harness.phase("materialize")(Trace.span("materialize")(Check.fingerprint(df)))
    Counters.attached.foreach(_.materialized(df.queryExecution))
    () => matches(key, fp)
  }

  def matches(key: String, fp: Check.Fp): Boolean =
    record match {
      case Some(m) =>
        m.get(key).foreach(prev => require(prev == fp.show, s"$key is not deterministic: $prev vs ${fp.show}"))
        m(key) = fp.show
        true
      case None =>
        val ok = expected.get(key).contains(fp)
        if (!ok) System.err.println(s"[perfbench] CHECK FAILED $key: got ${fp.show}, want ${expected.get(key).map(_.show)}")
        ok
    }

  /** Random source of pass `p`; the warm-up pass gets one fixed source. */
  def rng(p: Int, salt: Long): scala.util.Random =
    new scala.util.Random(if (p < 0) salt else seed * 1000003L + 7919L * p + salt)
}

trait Workload {
  def name: String
  /** Nominal length of one pass: a run measures round(--seconds / this)
    * passes, at least one. A constant, so the work a run measures never
    * depends on how fast it runs. */
  def passSeconds: Double = 10.0
  /** Fixtures; timed as part of `setup_s` with the warm-up pass. */
  def setup(ctx: Ctx): Unit
  /** The ops of pass `p` (0-based), in the order they run; pass -1 is the
    * set-up's warm-up pass, in an order that does not depend on the seed. */
  def pass(ctx: Ctx, p: Int): Seq[Op]
  /** Workload-level end-to-end values (name -> (value, unit)). */
  def extras: Map[String, (Double, String)] = Map.empty
  /** Layer counters the workload measures itself (sources.*, plans.*). */
  def layers: Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "sql_core"      => new Registry(name, graft.queries.CoreQueries.list, graft.Tables.all)
    case "curation"      => new Registry(name, curationRows.filter(q => CurationTimed(q.name.takeWhile(_ != '_'))),
      Seq("documents", "embeddings"))
    case "curation_full" => new Registry(name, curationRows, graft.Tables.all)
    case "store_churn"   => new StoreChurn
    case "medallion_elt" => new Medallion
    case "lakehouse"     => new Lakehouse(new StoreChurn, new Medallion)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  /** The curation rows the timed workload runs: two of the three slowest
    * dedup rows and two of each other family, about 8 s of warm work on 4
    * cores. A timed run has no room for all 50 rows (a first pass takes
    * ~80 s there); `curation_full` runs them all. */
  val CurationTimed = Set("q40", "q42", "q72", "q46", "q49", "q50", "q84", "q60", "q62")

  private def num(q: Q): Int = q.name.drop(1).takeWhile(_.isDigit).toInt

  /** q40–q98, q126 and q131 of the data-pipeline registry plus the six AI
    * rows q60–q65. Store feature demos (q99–q144 apart from the two ANN
    * rows) and the q70 fuzz harness are left out. */
  def curationRows: Seq[Q] =
    graft.queries.DataPipelineQueries.list.filter { q =>
      val n = num(q); (n >= 40 && n <= 98) || n == 126 || n == 131
    } ++ graft.queries.AiQueries.list

  /** Engine family of each curation row, by the module its body calls. */
  def family(row: String): String = row.takeWhile(_ != '_') match {
    case "q40" | "q41" | "q42" | "q43" | "q44" | "q72" | "q76" | "q90" | "q92" | "q95" => "operators.dedup"
    case "q45" | "q46" | "q47" | "q48" | "q49" | "q49b" | "q67" | "q75" | "q79" | "q126" | "q131" => "operators.similarity"
    case "q50" | "q51" | "q52" | "q53" | "q83" | "q84" | "q87" | "q96" => "functions.text"
    case "q60" | "q61" | "q62" | "q63" | "q64" | "q65" => "ai"
    case _ => "other"
  }

  /** Counters the workloads measure themselves; every traced run reports
    * all of them (0 where the workload has no such layer). */
  val layerNames: Seq[String] =
    Seq("append", "update", "delete", "merge", "compact").map("sources.commit_ms." + _) ++
      Seq("sources.build_ms", "sources.scan_ms", "sources.files_kept", "sources.files_total",
        "sources.chain_len", "sources.bytes_written") ++
      Seq("folder", "ctas", "insert", "view", "select", "reflection").map("pipeline.stmt_ms." + _) ++
      Seq("plans.reflection_refresh_ms", "plans.substituted", "plans.eligible")
}

/** sql_core and curation: every registry row once per pass, in a
  * seed-permuted order; each op is `Q.run` plus the fingerprint action.
  * The set-up scans `tables`, the ones the rows read. */
final class Registry(val name: String, rows: Seq[Q], tables: Seq[String]) extends Workload {
  // a warm curation pass is ~8 s, so --seconds 10 measures two of them
  override def passSeconds: Double = if (name == "curation") 5.0 else 10.0

  def setup(ctx: Ctx): Unit =
    tables.foreach(t => graft.Tables(ctx.spark, ctx.dataDir, t).count())

  def pass(ctx: Ctx, p: Int): Seq[Op] =
    (if (p < 0) rows else ctx.rng(p, 0).shuffle(rows)).map { q =>
      Op(q.name, "query", Workloads.family(q.name), () => {
        val df = Harness.phase("construct")(Trace.span("queries.construct")(q.run(ctx.spark, ctx.dataDir)))
        val check = ctx.fingerprinted(q.name, df)
        ctx.dump.filter(_ => q.oracle.isDefined).foreach { d =>
          df.write.mode("overwrite").parquet(s"$d/${q.name}")
        }
        check
      }, after = () => ctx.spark.catalog.clearCache())
    }
}

/** store_churn: one SnapshotTable seeded from `orders` plus a revision
  * column, then rounds of a seeded op mix, each ending with a compaction.
  * Every read is checked against a model of the live keys, kept by the
  * benchmark, at the version it reads. */
final class StoreChurn extends Workload {
  val name = "store_churn"
  private type Model = Map[Long, (Int, Long)] // key -> (rev, price in cents)

  private var st: SnapshotTable = _
  private var root: String = _
  private var model: Model = Map.empty
  private val versions = mutable.LinkedHashMap.empty[Long, Model]
  private var nextKey = 0L
  private var bytesPerRow = 0.0
  private var userBytes = 0.0
  private var bytesWritten = 0L
  private val commitMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var buildMs, scanMs = 0.0
  private var filesKept, filesTotal, chainMax = 0L

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("rev", IntegerType)))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = graft.TempDirs.newDir("perfbench_store")
    st = new SnapshotTable(spark, root)
    val orders = graft.Tables(spark, ctx.dataDir, "orders")
    val v0 = st.commit(orders.withColumn("rev", lit(0)).repartition(ctx.cores), "overwrite")
    model = orders.select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
      .collect().iterator.map(r => r.getLong(0) -> ((0, r.getLong(1)))).toMap
    versions.clear(); versions(v0) = model
    nextKey = model.keys.max + 1
    bytesPerRow = Harness.treeBytes(root).toDouble / model.size
  }

  /** (rows, Σkey, Σrev, Σkey·(rev+1), Σcents): by Spark over a read … */
  private def summarize(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L)),
      coalesce(sum(col("rev").cast("long")), lit(0L)),
      coalesce(sum(col("o_orderkey") * (col("rev").cast("long") + 1)), lit(0L)),
      coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L))).head()
    (0 until 5).map(r.getLong)
  }
  /** … and by the benchmark over its model */
  private def summarize(m: Model, lo: Long, hi: Long): Seq[Long] = {
    var n, sk, sr, skr, sc = 0L
    m.foreach { case (k, (rev, c)) =>
      if (k >= lo && k <= hi) { n += 1; sk += k; sr += rev; skr += k * (rev + 1); sc += c }
    }
    Seq(n, sk, sr, skr, sc)
  }

  private def rows(keys: Seq[Long], seed: Long): Seq[Row] = {
    val r = new scala.util.Random(seed)
    keys.map(k => Row(k, r.nextInt(15000).toLong, Seq("F", "O", "P")(r.nextInt(3)),
      (100000L + r.nextInt(49900000)) / 100.0,
      java.sql.Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2404).toLong).atStartOfDay()),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)), 0))
  }
  private def cents(x: Row): Long = math.round(x.getDouble(3) * 100)

  /** A write op: `commit` is timed; the model moves to `next` and the check
    * confirms the log names the new version as head. */
  private def writeOp(kind: String, touched: () => Long, commit: () => Long,
      next: () => Model, prep: () => Unit = () => ()): Op = {
    var before = 0L
    Op(kind, "write", "", run = () => {
      val t0 = Trace.nowMs()
      val v = Trace.span(s"sources.commit.$kind")(commit())
      commitMs(kind) += Trace.nowMs() - t0
      () => {
        userBytes += touched() * bytesPerRow
        model = next()
        versions(v) = model
        st.currentVersion.contains(v)
      }
    }, before = () => { prep(); before = Harness.treeBytes(root) }, after = () => {
      bytesWritten += Harness.treeBytes(root) - before
      val (dirs, folds) = st.layoutStats()
      chainMax = math.max(chainMax, dirs.size + folds)
    })
  }

  /** A read op: building the DataFrame and scanning it are timed apart;
    * the check compares the scan's summary with the model's. A pruned read
    * also adds its (files kept, files live) to the file counters. */
  private def readOp(kind: String, df: () => DataFrame, want: () => Seq[Long], pruned: Boolean): Op =
    Op(kind, "read", "", run = () => {
      val t0 = Trace.nowMs()
      val d = Harness.phase("construct")(Trace.span("sources.build")(df()))
      val t1 = Trace.nowMs()
      val got = Harness.phase("materialize")(Trace.span("sources.scan")(summarize(d)))
      buildMs += t1 - t0; scanMs += Trace.nowMs() - t1
      () => {
        if (pruned) {
          val (k, t) = st.lastPruneStats
          filesKept += k; filesTotal += t
        }
        val w = want()
        if (got != w) System.err.println(s"[perfbench] $kind mismatch: got $got want $w")
        got == w
      }
    })

  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    val r = ctx.rng(p, 1)
    val spark = ctx.spark
    // one round in a fixed order: the four commit kinds, then the three
    // reads, so every read sees the round's commits (a chain of four on the
    // compacted base), then the compaction. The cost of a commit grows with
    // the chain under it, so a seeded order would move cost between ops
    // from seed to seed; the seed draws the keys, ranges and values.
    val kinds = Seq("append", "update", "delete", "merge", "read_full", "read_pruned", "read_asof", "compact")
    // the time-travel read audits the round's batch: it reads the snapshot
    // the round started from
    val roundStart = st.currentVersion.get
    kinds.map { kind =>
      // every parameter is drawn here, from the seed alone
      val frac = r.nextDouble()
      val opSeed = r.nextLong()
      def range(width: Long): (Long, Long) = {
        val lo = (frac * math.max(1L, nextKey - width)).toLong
        (lo, lo + width - 1)
      }
      def hits(lo: Long, hi: Long): Long = model.keysIterator.count(k => k >= lo && k <= hi).toLong
      kind match {
        case "append" =>
          var batch: Seq[Row] = Nil
          writeOp(kind, () => batch.size.toLong,
            () => st.commit(spark.createDataFrame(java.util.Arrays.asList(batch: _*), schema), "append"),
            () => { nextKey += batch.size; model ++ batch.map(x => x.getLong(0) -> ((0, cents(x)))) },
            prep = () => batch = rows(nextKey until nextKey + 3000, opSeed))
        case "update" =>
          var lo, hi, n = 0L
          writeOp(kind, () => n,
            () => st.updateMor(col("o_orderkey").between(lo, hi), Map("rev" -> (col("rev") + 1)), "o_orderkey"),
            () => model.map { case (k, (rv, c)) => k -> (if (k >= lo && k <= hi) (rv + 1, c) else (rv, c)) },
            prep = () => { val (a, b) = range(2000); lo = a; hi = b; n = hits(a, b) })
        case "delete" =>
          var lo, hi, n = 0L
          writeOp(kind, () => n,
            () => st.deleteWhereMor(col("o_orderkey").between(lo, hi), "o_orderkey"),
            () => model.filter { case (k, _) => k < lo || k > hi },
            prep = () => { val (a, b) = range(1500); lo = a; hi = b; n = hits(a, b) })
        case "merge" =>
          // 1000 keys of a live range (some may be deleted) plus 500 new ones
          var batch: Seq[Row] = Nil
          writeOp(kind, () => batch.size.toLong,
            () => st.mergeIntoMor(spark.createDataFrame(java.util.Arrays.asList(batch: _*), schema), "o_orderkey",
              matched = Seq((None, Some(Map("rev" -> (col("rev") + 1), "o_totalprice" -> col("__src_o_totalprice"))))),
              notMatched = Seq((None, None))),
            () => {
              nextKey += 500
              batch.foldLeft(model) { (m, x) =>
                val k = x.getLong(0)
                m.updated(k, m.get(k).map { case (rv, _) => (rv + 1, cents(x)) }.getOrElse((0, cents(x))))
              }
            },
            prep = () => {
              val (lo, _) = range(1000)
              batch = rows((lo until lo + 1000) ++ (nextKey until nextKey + 500), opSeed)
            })
        case "compact" =>
          writeOp(kind, () => 0L, () => st.compact(ctx.cores), () => model)
        case "read_full" =>
          readOp(kind, () => st.read(), () => summarize(model, Long.MinValue, Long.MaxValue), pruned = false)
        case "read_pruned" =>
          var lo, hi = 0L
          val op = readOp(kind, () => st.readWhere(col("o_orderkey").between(lo, hi)),
            () => summarize(model, lo, hi), pruned = true)
          op.copy(before = () => { val (a, b) = range(4000); lo = a; hi = b })
        case "read_asof" =>
          readOp(kind, () => st.read(Some(roundStart)),
            () => summarize(versions(roundStart), Long.MinValue, Long.MaxValue), pruned = false)
      }
    }
  }

  override def extras: Map[String, (Double, String)] = Map(
    "write_amp" -> (if (userBytes > 0) bytesWritten / userBytes else 0.0, "ratio"),
    "space_amp" -> (Harness.treeBytes(root) / (model.size * bytesPerRow), "ratio"))

  override def layers: Map[String, Double] =
    Seq("append", "update", "delete", "merge", "compact").map(k => s"sources.commit_ms.$k" -> commitMs(k)).toMap ++ Map(
      "sources.build_ms" -> buildMs, "sources.scan_ms" -> scanMs,
      "sources.files_kept" -> filesKept.toDouble, "sources.files_total" -> filesTotal.toDouble,
      "sources.chain_len" -> chainMax.toDouble, "sources.bytes_written" -> bytesWritten.toDouble)
}

/** medallion_elt: medallion.sql through SqlScriptRunner, one statement per
  * op, under a fresh root folder each pass. */
final class Medallion extends Workload {
  val name = "medallion_elt"
  private val stmtMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var refreshMs = 0.0
  private var substituted, eligible = 0L
  private var written, loadedRows = 0L
  private var bytesPerRow = 0.0

  /** (check label, statement) in script order, comment lines removed; a
    * statement ends at a line ending in `;` */
  private val stmts: Seq[(Option[String], String)] = {
    val out = mutable.ArrayBuffer.empty[(Option[String], String)]
    var label: Option[String] = None
    val buf = new StringBuilder
    val Label = "--\\s*check:\\s*(\\w+)\\s*".r
    scala.io.Source.fromFile(Harness.benchDir + "/medallion.sql", "UTF-8").getLines().foreach { line =>
      line.trim match {
        case Label(l) => label = Some(l)
        case t if t.startsWith("--") || t.isEmpty =>
        case t =>
          buf.append(line).append('\n')
          if (t.endsWith(";")) {
            out += label -> buf.toString.trim.stripSuffix(";")
            buf.clear(); label = None
          }
      }
    }
    out.toSeq
  }

  private def kind(s: String): String = {
    val w = s.toUpperCase.split("\\s+").take(4).toSeq
    if (w.take(2) == Seq("CREATE", "FOLDER")) "folder"
    else if (w.take(2) == Seq("CREATE", "TABLE")) "ctas"
    else if (w.head == "INSERT") "insert"
    else if (w.head == "CREATE" && w.contains("VIEW")) "view"
    else if (w.head == "ALTER") "reflection"
    else "select"
  }

  def setup(ctx: Ctx): Unit = {
    graft.Tables.registerAll(ctx.spark, ctx.dataDir)
    val src = Seq("orders", "lineitem")
    src.foreach(t => graft.Tables(ctx.spark, ctx.dataDir, t).count())
    bytesPerRow = src.map(t => Harness.treeBytes(s"${ctx.dataDir}/$t.parquet")).sum.toDouble /
      src.map(Data.rows(ctx.sf)).sum
  }

  def pass(ctx: Ctx, p: Int): Seq[Op] = pass(ctx, p, 0)

  /** Run `k` of the script in pass `p`, under its own root folder. */
  def pass(ctx: Ctx, p: Int, k: Int): Seq[Op] = {
    val spark = ctx.spark
    val ns = if (p < 0) s"lake_warmup_$k" else s"lake_${ctx.seed.abs}_${p}_$k"
    val runner = new graft.pipeline.SqlScriptRunner(spark)
    // in script order: the first read of a block runs slower than the
    // rest, so a seeded order would move cost between reads from seed to seed
    val engineRoot = new java.io.File(graft.TempDirs.newDir("perfbench_probe")).getParent
    val tableRows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var reflected = false
    var bytesBefore = 0L
    stmts.zipWithIndex.map { case ((label, raw), i) =>
      val stmt = raw.replace("${ns}", ns)
      val k = kind(stmt)
      val cls = k match { case "select" => "read"; case "ctas" | "insert" | "reflection" => "write"; case _ => "ddl" }
      val table = "(?is)^(?:CREATE TABLE|INSERT INTO)\\s+([\\w.]+)".r.findFirstMatchIn(stmt).map(_.group(1))
      Op(s"$k:${label.orElse(table.map(_.stripPrefix(ns + "."))).getOrElse(i.toString)}", cls, "", run = () => {
        val t0 = Trace.nowMs()
        val out = Harness.phase("construct")(Trace.span(s"pipeline.stmt.$k")(runner.run(stmt)))
        val check: () => Boolean = k match {
          case "select" =>
            val df = out.values.head
            val c = ctx.fingerprinted(s"medallion:${label.get}", df)
            () => {
              if (reflected && stmt.contains(".gold.monthly_kpi")) {
                eligible += 1
                if (df.queryExecution.executedPlan.toString.contains("graft_reflections")) substituted += 1
              }
              c()
            }
          case "reflection" => () => { reflected = true; runner.reflections.status().exists(_._2) }
          case "ctas" | "insert" => () => {
            val t = table.get
            val fp = Check.tableFingerprint(spark.table(t))
            loadedRows += fp.rows - tableRows(t)
            tableRows(t) = fp.rows
            ctx.matches(s"medallion:${t.stripPrefix(ns + ".")}@$i", fp)
          }
          case "folder" => () => spark.sql(s"SHOW TABLES IN ${stmt.split("\\s+").last}").count() >= 0
          case _ => () => spark.table(viewName(stmt)).columns.nonEmpty
        }
        val dt = Trace.nowMs() - t0
        stmtMs(k) += dt
        if (k == "reflection") refreshMs += dt
        check
      }, before = () => if (i == 0) bytesBefore = Harness.treeBytes(engineRoot),
        after = () => if (i == stmts.size - 1) {
          written += Harness.treeBytes(engineRoot) - bytesBefore
          Seq("raw.orders", "raw.lineitem").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $ns.$t"))
        })
    }
  }

  /** The session temp view SqlScriptRunner binds a dotted view path to. */
  private def viewName(stmt: String): String =
    "(?is)VIEW\\s+([\\w.]+)".r.findFirstMatchIn(stmt).get.group(1).replace('.', '_')

  override def extras: Map[String, (Double, String)] = Map(
    "write_amp" -> (if (loadedRows > 0) written / (loadedRows * bytesPerRow) else 0.0, "ratio"))

  override def layers: Map[String, Double] =
    Seq("folder", "ctas", "insert", "view", "select", "reflection").map(k => s"pipeline.stmt_ms.$k" -> stmtMs(k)).toMap ++
      Map("plans.reflection_refresh_ms" -> refreshMs,
        "plans.substituted" -> substituted.toDouble, "plans.eligible" -> eligible.toDouble)
}

/** lakehouse: each pass is a store_churn round followed by two runs of the
  * medallion_elt script — the table-format writes and the SQL pipeline in
  * one workload. The round's merge alone takes about half the round; the
  * second script run raises the samples per pass from 26 to 44, so the
  * pass's throughput and percentiles rest less on that one op. The
  * set-up's warm-up pass runs the script once. */
final class Lakehouse(store: StoreChurn, medallion: Medallion) extends Workload {
  val name = "lakehouse"
  def setup(ctx: Ctx): Unit = { store.setup(ctx); medallion.setup(ctx) }
  def pass(ctx: Ctx, p: Int): Seq[Op] =
    store.pass(ctx, p) ++ (0 until (if (p < 0) 1 else 2)).flatMap(k => medallion.pass(ctx, p, k))
  override def extras: Map[String, (Double, String)] =
    store.extras ++ medallion.extras.map { case (k, v) => s"medallion.$k" -> v }
  override def layers: Map[String, Double] = store.layers ++ medallion.layers
}
