package graft.queries

import org.apache.spark.sql.functions.{col, explode}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{HashUtil, ShingleHashes, TextOps}
import graft.operators.Materialize

/** Property test for the core dedup primitive: the relational
  * shingle-join Jaccard pipeline against a plain driver-side set
  * computation — an oracle independent of both Spark AND DuckDB, so a
  * shared misconception in the SQL twin can't hide a bug.
  */
class JaccardPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(name: String, prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, s"$name: $result")
  }

  // small vocab + short docs => real shingle overlap between random docs
  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
  } yield toks.mkString(" ")

  private def driverShingles(text: String): Set[Long] = {
    val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(w => HashUtil.md5Head8(w.mkString(" "))).toSet
  }

  test("jaccardPairs equals driver-side set jaccard on random corpora") {
    check("jaccard", Prop.forAll(Gen.listOfN(12, genDoc)) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val sh = Materialize(docs.select(col("doc_id"),
        explode(ShingleHashes.of(TextOps.tokens(col("text")))).as("sh")))
      val got = TextQueries.jaccardPairs(sh, 0.5)
        .select("doc_a", "doc_b", "jaccard")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

      val sets = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> driverShingles(t)
      }
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib && sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        if inter > 0
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.5
      } yield (ia, ib) -> j).toMap

      spark.sqlContext.clearCache()
      got.keySet == want.keySet &&
        got.forall { case (k, v) => math.abs(v - want(k)) < 1e-12 }
    })
  }
}
