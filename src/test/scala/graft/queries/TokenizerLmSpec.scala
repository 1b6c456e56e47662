package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath
import graft.{SparkEntry, TestSpark}
import graft.Tables.tableParallel
import graft.functions.TextOps.tokens

/** Independent cross-checks for the tokenizer/LM additions (q188/q189).
  *
  * The DuckDB oracle proves Spark ≡ SQL; these specs prove both ≡ the
  * textbook algorithms: q189 against a from-scratch single-threaded BPE
  * trainer (greedy left-to-right merge scan, no replace() trick), and
  * q188 against the Kneser-Ney count identities that make the estimator
  * a probability (Σ over observed types of (c−D) = n1 − D·r, and the
  * reported row values recompose into the reported probability).
  */
class TokenizerLmSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  /** Reference BPE: word-frequency dict in, merges (and per-generation
    * vocab stats) out. Merge application is the definitional greedy
    * left-to-right scan over the symbol LIST — deliberately not the
    * paren-delimited replace() string encoding the operator uses, so the
    * spec fails if that encoding ever diverges from BPE semantics
    * (overlapping pairs like x x x x, or a pattern binding a longer
    * symbol's interior).
    */
  private def refBpe(words: Map[String, Long], rounds: Int)
      : (Seq[(String, String, Long)], Seq[(Long, Long)]) = {
    var vocab: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, c) =>
        (w.map(_.toString).toVector :+ "</w>", c)
      }
    def genStats: (Long, Long) = {
      val ts = vocab.map { case (syms, c) => syms.length * c }.sum
      val tw = vocab.map(_._2).sum
      (ts, ts * 1000 / tw)
    }
    val stats = Seq.newBuilder[(Long, Long)]
    stats += genStats
    val merges = (1 to rounds).map { _ =>
      val counts = mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        (0 until syms.length - 1).foreach { i =>
          counts((syms(i), syms(i + 1))) += c
        }
      }
      val ((l, r), pc) = counts.toSeq
        .minBy { case ((a, b), n) => (-n, a, b) }
      vocab = vocab.map { case (syms, c) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += s"$l~$r"; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), c)
      }
      stats += genStats
      (l, r, pc)
    }
    (merges, stats.result())
  }

  test("q189 merges equal a from-scratch greedy BPE trainer's") {
    val words = tableParallel(spark, sf, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")).between(2, 12))
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = refBpe(words, 4)._1
    val got = SparkEntry.queries("q189_bpe_merge_learning")(spark, sf)
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expected,
      s"operator merges $got != reference BPE $expected")
  }

  test("q189/q192 boundary anchoring: a merged symbol's interior cannot " +
      "be re-matched (adversarial fixture)") {
    // Fixture engineered so round 1 merges (t,h) and round 2 merges
    // (h,e) while 'the' is already encoded as [t~h, e, </w>]: an
    // encoding that lets the (h,e) pattern match INSIDE the merged
    // symbol t~h would corrupt 'the' to [t~h~e, </w>] — and because the
    // oracle replays the identical replace(), only this reference
    // comparison can see it. Word weights: (t,h)=170 beats (h,e)=150 in
    // round 1; in round 2 (h,e)=120 stands alone because hex/hey/hem
    // spread their (e,·) successors three ways.
    val weights = Seq("tho" -> 90, "tha" -> 50, "the" -> 30,
      "hex" -> 40, "hey" -> 40, "hem" -> 40)
    val text = weights.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ")
    val dir = tempPath("bpe_adversarial_").toString
    import spark.implicits._
    Seq((0L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (refMerges, refStats) =
      refBpe(weights.map { case (w, n) => w -> n.toLong }.toMap, 4)
    // the fixture really is adversarial: (t,h) then (h,e)
    assert(refMerges.take(2).map(m => (m._1, m._2)) ==
      Seq(("t", "h"), ("h", "e")))
    val gotMerges = SparkEntry.queries("q189_bpe_merge_learning")(spark, dir)
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(gotMerges == refMerges,
      s"adversarial merges $gotMerges != reference $refMerges")
    // the vocab STATE after each merge is what the boundary bug corrupts
    // first — compare every generation's symbol totals too
    val gotStats = SparkEntry.queries("q192_bpe_compression_audit")(
        spark, dir)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(gotStats == refStats,
      s"generation stats $gotStats != reference $refStats")
  }

  test("q188 rows satisfy the Kneser-Ney count identities and recompose") {
    val rows = SparkEntry.queries("q188_kneser_ney_bigram")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // independent B: distinct bigram types via a typed flatMap (no
    // transform/sequence machinery shared with the operator)
    import spark.implicits._
    val btot = tableParallel(spark, sf, "documents")
      .select(col("text")).as[String]
      .flatMap { t =>
        val ws = t.trim.toLowerCase.split("\\s+")
        ws.sliding(2).collect { case Array(a, b) => (a, b) }
      }
      .distinct().count()
    rows.foreach { r =>
      val (c, n1, cr, l, pkn) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(c >= 1 && c <= n1 && cr >= 1 && l >= 1)
      val expect = math.rint(((c.toDouble - 0.75) / n1
        + 0.75 * cr / n1 * (l.toDouble / btot)) * 1e6) / 1e6
      assert(math.abs(pkn - expect) < 1e-9,
        s"row $r: pkn $pkn != recomposed $expect (B=$btot)")
      assert(pkn > 0 && pkn < 1)
    }
  }

  test("q192 compression audit: symbols-per-word is monotone non-increasing " +
      "and generations track q189's merges") {
    val gens = SparkEntry.queries("q192_bpe_compression_audit")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(gens.length == 5 && gens.head._2 == "")
    gens.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 < a._3, s"gen ${b._1}: total_syms did not shrink")
        assert(b._4 <= a._4, s"gen ${b._1}: spw_milli increased")
      case _ =>
    }
    val merges = SparkEntry.queries("q189_bpe_merge_learning")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(3))).toMap
    gens.tail.foreach { case (g, merged, _, _) =>
      assert(merges(g) == merged,
        s"gen $g applied '$merged' but q189 learned '${merges(g)}'")
    }
  }

  test("q193 surprisal output is internally consistent") {
    val rows = SparkEntry.queries("q193_kn_surprisal_outliers")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, n, avgLogp, sm) =>
      assert(n >= 1)
      assert(avgLogp < 0, s"doc $doc: KN log-prob must be negative")
      assert(sm > 0, s"doc $doc: surprisal must be positive")
      // the two encodings of the same quantity agree (floor vs round
      // differ by at most one milli-nat unit)
      assert(math.abs(sm - (-avgLogp * 1000)) <= 1.0,
        s"doc $doc: surprisal_m $sm vs avg_logp $avgLogp")
    }
    // ranking is by the integer surprisal, descending
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq)
  }

  test("q188 interpolated KN is a proper distribution (mass sums to 1)") {
    // Σ over the full right-vocab of P(w2|w1) =
    //   (n1 − D·r)/n1 + (D·r/n1)·(Σ_w2 N1+(·,w2))/B, and Σ N1+(·,w2) = B,
    // so the total is exactly 1 for EVERY w1 — iff n1 really is Σc and
    // r really is the observed-type count. Verify the identity on the
    // actual count tables for the w1 with the largest n1.
    val bg = tableParallel(spark, sf, "documents")
      .select(tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          | i -> struct(element_at(ws, i) AS w1,
          |             element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .cache()
    val top = bg.groupBy("w1")
      .agg(sum("c").as("n1"), count(lit(1)).as("r"))
      .orderBy(col("n1").desc, col("w1")).limit(1).head()
    val (n1, r) = (top.getLong(1), top.getLong(2))
    val btot = bg.count()
    // Σ_w2 N1+(·,w2): each bigram type contributes once to its w2's
    // continuation count, so the sum must equal B — the equality the
    // backoff term's normalization rests on
    val sumL = bg.groupBy("w2").agg(count(lit(1)).as("l"))
      .agg(sum("l")).head().getLong(0)
    assert(sumL == btot, s"sum of continuation counts $sumL != B $btot")
    val massObserved = (n1 - 0.75 * r) / n1
    val massBackoff = 0.75 * r / n1 * (sumL.toDouble / btot)
    assert(math.abs(massObserved + massBackoff - 1.0) < 1e-12)
    bg.unpersist()
  }
}
