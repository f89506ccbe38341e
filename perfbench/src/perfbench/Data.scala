package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Deterministic generator for the benchmark's input tables: the TPC-H-ish
  * star schema plus `events`, `documents` and `embeddings`, with the schemas
  * and value ranges `graft.Tables` loads. Every value is a pure function of
  * (data seed, column salt, row id), so the same seed writes the same rows
  * whatever the partitioning — the committed fingerprints depend on that.
  */
object Data {
  val tables: Seq[String] = graft.Tables.all

  /** Fixed data seed: the committed fingerprints are for this dataset. The
    * run seed varies the op order and mix, never these inputs. */
  val DataSeed = 42L

  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> math.max(500L, (50000 * sf).toLong),
    "embeddings" -> math.max(500L, (20000 * sf).toLong))

  private val Vocab = Seq("part", "column", "order", "scan", "a", "slow", "agg",
    "key", "window", "table", "merge", "vector", "join", "query", "row",
    "stream", "the", "batch", "sort", "value", "hash", "filter", "big", "data",
    "dup", "spark", "line", "small", "fast", "group", "customer")

  /** uniform double in [0, 1) for (seed, salt, `key`) */
  private def u(salt: String, key: String = "id"): String =
    s"(pmod(xxhash64(${DataSeed}L, '$salt', $key), 9007199254740992L) / 9007199254740992D)"

  /** uniform integer in [lo, hi] */
  private def ui(salt: String, lo: Long, hi: Long, key: String = "id"): String =
    s"(CAST(floor(${u(salt, key)} * ${hi - lo + 1}) AS BIGINT) + $lo)"

  private def pick(salt: String, values: Seq[String], key: String = "id"): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(",")}), CAST(${ui(salt, 1, values.size, key)} AS INT))"

  /** ~N(0,1) from three uniforms (Irwin–Hall), keyed on an expression */
  private def gauss(salt: String, key: String): String =
    s"((${u(salt + "1", key)} + ${u(salt + "2", key)} + ${u(salt + "3", key)} - 1.5D) * 2D)"

  def frame(spark: SparkSession, name: String, sf: Double): DataFrame = {
    val n = rows(sf)
    val r = spark.range(n(name))
    def sel(cols: (String, String)*): DataFrame =
      r.select(cols.map { case (c, e) => expr(e).as(c) }: _*)
    val day0 = "DATE'1995-01-01'"
    name match {
      case "region" => sel("r_regionkey" -> "CAST(id AS INT)",
        "r_name" -> "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id + 1 AS INT))")
      case "nation" => sel("n_nationkey" -> "CAST(id AS INT)",
        "n_name" -> "concat('NATION_', id)", "n_regionkey" -> "CAST(id % 5 AS INT)")
      case "customer" => sel("c_custkey" -> "id",
        "c_name" -> "concat('Customer#', lpad(CAST(id AS STRING), 9, '0'))",
        "c_nationkey" -> s"CAST(${ui("cn", 0, 24)} AS INT)",
        "c_acctbal" -> s"round(${ui("cb", -99999, 999999)} / 100D, 2)",
        "c_mktsegment" -> pick("cs", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
      case "supplier" => sel("s_suppkey" -> "id",
        "s_name" -> "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0'))",
        "s_nationkey" -> s"CAST(${ui("sn", 0, 24)} AS INT)",
        "s_acctbal" -> s"round(${ui("sb", -99999, 999999)} / 100D, 2)")
      case "part" => sel("p_partkey" -> "id",
        "p_name" -> s"concat(${pick("pa", Seq("blue", "red", "hot", "cold", "small", "large", "new", "old"))}, ' ', ${pick("pn", Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"))})",
        "p_brand" -> s"concat('Brand#', ${ui("pb", 1, 25)})",
        "p_type" -> pick("pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        "p_size" -> s"CAST(${ui("ps", 1, 50)} AS INT)",
        "p_retailprice" -> "round(900D + (id % 1000) / 10D, 1)")
      case "orders" => sel("o_orderkey" -> "id",
        "o_custkey" -> ui("oc", 0, n("customer") - 1),
        "o_orderstatus" -> pick("os", Seq("F", "O", "P")),
        "o_totalprice" -> s"round(${ui("op", 100000, 49999999)} / 100D, 2)",
        "o_orderdate" -> s"CAST(date_add($day0, CAST(${ui("od", 0, 2403)} AS INT)) AS TIMESTAMP)",
        "o_orderpriority" -> pick("oy", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
      case "lineitem" => sel("l_orderkey" -> ui("lo", 0, n("orders") - 1),
        "l_partkey" -> ui("lp", 0, n("part") - 1),
        "l_suppkey" -> ui("ls", 0, n("supplier") - 1),
        "l_linenumber" -> s"CAST(${ui("ll", 1, 7)} AS INT)",
        "l_quantity" -> s"CAST(${ui("lq", 1, 50)} AS DOUBLE)",
        "l_extendedprice" -> s"round(${ui("le", 90000, 10499999)} / 100D, 2)",
        "l_discount" -> s"${ui("ld", 0, 10)} / 100D",
        "l_tax" -> s"${ui("lt", 0, 8)} / 100D",
        "l_returnflag" -> pick("lr", Seq("A", "N", "R")),
        "l_linestatus" -> pick("lx", Seq("F", "O")),
        "l_shipdate" -> s"CAST(date_add(DATE'1995-01-02', CAST(${ui("lh", 0, 2498)} AS INT)) AS TIMESTAMP)")
      case "events" =>
        val step = 30L * 86400L * 1000000L / n(name)
        sel("event_id" -> "id",
          "ts" -> s"timestamp_micros(1704067200000000L + id * ${step}L + ${ui("et", 0, step - 1)})",
          "user_id" -> ui("eu", 0, math.max(14L, (15000 * sf).toLong - 1)),
          "event_type" -> pick("ey", Seq("click", "error", "purchase", "signup", "view")),
          "value" -> s"round(-50D * ln(1D - ${u("ev")}), 2)",
          "props" -> s"concat('{\"k\": ', ${ui("ek", 0, 99)}, '}')")
      case "documents" =>
        // ~8% near-duplicates (one word changed) and ~0.4% exact copies of a
        // recent document, so the dedup rows find real clusters
        val vocab = s"array(${Vocab.map(w => s"'$w'").mkString(",")})"
        val kind = u("dk")
        val src = s"CASE WHEN $kind < 0.084D THEN greatest(id - 1 - ${ui("ds", 0, 39)}, 0L) ELSE id END"
        def word(i: String) =
          s"element_at($vocab, CAST(pmod(xxhash64(${DataSeed}L, 'dw', src, $i), ${Vocab.size}) + 1 AS INT))"
        r.selectExpr("id", s"$src AS src", s"$kind AS kind")
          .selectExpr("id", "src", "kind", s"${ui("dn", 10, 100, "src")} AS nw",
            s"${ui("dp", 0, 9, "id")} AS pos")
          .selectExpr("id AS doc_id",
            s"""array_join(transform(sequence(0, CAST(nw - 1 AS INT)), i ->
                 CASE WHEN kind >= 0.004D AND src <> id AND i = pos
                      THEN element_at($vocab, CAST(pmod(xxhash64(${DataSeed}L, 'dr', id), ${Vocab.size}) + 1 AS INT))
                      ELSE ${word("i")} END), ' ') AS text""",
            s"CASE WHEN ${u("dl")} < 0.41D THEN 'en' ELSE ${pick("dg", Seq("de", "es", "fr", "zh"))} END AS lang",
            "concat('src', id % 20) AS source")
          .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
      case "embeddings" =>
        val raw = s"transform(sequence(0, 63), d -> ${gauss("ec", "label * 64 + d")} + 0.6D * ${gauss("en", "id * 64 + d")})"
        r.selectExpr("id", s"CAST(${ui("el", 0, 9)} AS INT) AS label")
          .selectExpr("id", "label", s"$raw AS v")
          .selectExpr("id AS vec_id",
            "transform(v, x -> CAST(x / sqrt(aggregate(v, 0D, (a, y) -> a + y * y)) AS FLOAT)) AS embedding",
            "label")
    }
  }

  /** Write every table once under `dir` (one parquet file per table); a
    * marker file makes a finished directory reusable by later runs. */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val marker = new java.io.File(dir, "_GENERATED")
    if (marker.exists()) return
    tables.foreach { t =>
      frame(spark, t, sf).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.writeString(marker.toPath, s"sf=$sf seed=$DataSeed\n")
  }
}
