package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every kernel column is built once, under the suite's session, and
  * evaluated on a frame of a fresh `newSession()`. The columns carry their
  * Catalyst expressions, so they resolve in any session, give the same rows
  * there, and leave no function in either session's registry. */
class CrossSessionKernelSpec extends SparkSpec {

  private lazy val other: SparkSession = spark.newSession()

  private def docs(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, "the quick brown fox and the lazy dog.", Seq(1.0, 2.0, 3.0), Seq(1L, 2L, 3L)),
    (2L, "der schnelle braune fuchs und der hund", Seq(0.5, -1.0, 2.0), Seq(2L, 3L, 4L)),
    (3L, "le renard brun et le chien 中文", Seq(0.0, 1.0, 0.0), Seq.empty[Long])))
    .toDF("id", "text", "v", "h")

  /** Rows of `cols` over `docs(s)`, binary cells as byte lists. */
  private def eval(s: SparkSession, agg: Boolean, cols: Column*): Seq[Seq[Any]] = {
    val d = docs(s)
    val out = if (agg) d.agg(cols.head, cols.tail: _*) else d.orderBy("id").select(cols: _*)
    out.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })
  }

  private def sameInBothSessions(name: String, c: Column, agg: Boolean = false): Unit = {
    val there = eval(other, agg, c)
    assert(there === eval(spark, agg, c), s"$name differs across sessions")
    assert(there.nonEmpty && there.forall(_.exists(_ != null)), s"$name yielded nulls")
  }

  test("vector kernels built in one session evaluate in another") {
    sameInBothSessions("cosine", NativeVectorExpressions.cosine(col("v"), reverse(col("v"))))
    sameInBothSessions("dot", NativeVectorExpressions.dot(col("v"), col("v")))
    sameInBothSessions("hyperplaneBits",
      NativeVectorExpressions.hyperplaneBits(col("v"), 3, 8, 42L))
  }

  test("text kernels built in one session evaluate in another") {
    sameInBothSessions("shingleHashes", NativeTextExpressions.shingleHashes(col("text"), 2))
    sameInBothSessions("minhashSig", NativeTextExpressions.minhashSig(col("h"), 4, 42L))
    sameInBothSessions("longSetJaccard",
      NativeTextExpressions.longSetJaccard(col("h"), array(lit(2L), lit(3L))))
    sameInBothSessions("langId", TextFunctions.langId(col("text")))
    sameInBothSessions("qualityScore", TextFunctions.qualityScore(col("text")))
    sameInBothSessions("tokenCount", TextFunctions.tokenCount(col("text")))
    sameInBothSessions("textShingles", TextFunctions.textShingles(col("text"), 2))
    assert(eval(other, agg = false, TextFunctions.langId(col("text"))).map(_.head) ===
      Seq("en", "de", "zh"))
  }

  test("aggregate kernels built in one session evaluate in another") {
    sameInBothSessions("topKMin", TopKAggregate.topKMin(col("id"), 2), agg = true)
    assert(eval(other, agg = true, TopKAggregate.topKMin(col("id"), 2)) ===
      Seq(Seq(Seq(1L, 2L))))
    val bloom = BloomFunctions.bloomAgg(col("id"), 100L, 800L)
    sameInBothSessions("bloomAgg", bloom, agg = true)
    val bytes = docs(other).agg(bloom).head.getAs[Array[Byte]](0)
    val probe = BloomFunctions.probe(bytes, col("id"))
    sameInBothSessions("probe", probe)
    assert(eval(other, agg = false, probe).map(_.head) === Seq(true, true, true))
  }

  test("no kernel name is registered in either session") {
    Seq("topk_min", "vec_cosine", "vec_dot", "hyperplane_bits", "shingle_hashes",
      "minhash_sig", "long_set_jaccard", "lang_profile", "word_shingles",
      "graft_bloom_agg", "graft_bloom_probe").foreach { n =>
      assert(!spark.catalog.functionExists(n) && !other.catalog.functionExists(n), n)
    }
  }
}
