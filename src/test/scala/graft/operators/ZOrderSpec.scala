package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{ZValue, ZValueUtil}

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("z16 interleaves bits (native equals bit-by-bit reference)") {
    def ref(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L),
      (0L, 65535L), (65535L, 65535L), (12345L, 54321L), (40000L, 1L))
    cases.foreach { case (x, y) =>
      assert(ZValueUtil.z16(x, y) === ref(x, y), s"($x, $y)")
    }
    // known values: x bits land even, y bits land odd
    assert(ZValueUtil.z16(1, 0) === 1L)
    assert(ZValueUtil.z16(0, 1) === 2L)
    assert(ZValueUtil.z16(3, 3) === 15L)
    // the expression evaluates the same helper through codegen
    import spark.implicits._
    val got = cases.toDF("x", "y")
      .select(ZValue.of(col("x"), col("y"))).collect().map(_.getLong(0))
    assert(got.toSeq === cases.map((ref _).tupled))
  }

  test("every coarse z-bucket bounds BOTH dimension spreads (exact math)") {
    import spark.implicits._
    // adversarial data: dims anti-correlated, full 16-bit domain
    val rows = (0 until 5000)
      .map(i => ((i * 131L) % 65536, (65535 - (i * 257L) % 65536)))
    val spreads = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        shiftright(ZOrder.zkey(col("a"), col("b")), 26).as("zb"))
      .groupBy("zb")
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .collect()
    // top 6 z-bits fix the top 3 bits of each dim -> spreads < 2^13
    spreads.foreach { r =>
      assert(r.getLong(1) < 8192 && r.getLong(2) < 8192, r.toString)
    }
  }

  test("layout range-partitions and sorts by the curve") {
    import spark.implicits._
    val df = (0 until 2000)
      .map(i => ((i * 7919L) % 65536, (i * 104729L) % 65536, i.toLong))
      .toDF("a", "b", "id")
    val laid = ZOrder.layout(df, col("a"), col("b"), numFiles = 4)
    // per output partition: z re-derived from the row must be ascending,
    // and partition z-ranges must not overlap (range partitioning)
    val perPart = laid
      .select(ZOrder.zkey(col("a"), col("b")).as("z"),
        spark_partition_id().as("pid"))
      .groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perPart.length > 1)
    perPart.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, perPart.toSeq)
      case _ =>
    }
  }
}
