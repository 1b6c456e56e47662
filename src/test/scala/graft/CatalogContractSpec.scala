package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards for the catalog itself: the things the DuckDB
  * gate can't see because they'd break BEFORE it runs — duplicate query
  * names silently shadowing each other in the `queries` map, oracle
  * entries keyed to nothing, or names the driver's artifacts can't sort
  * sensibly.
  */
class CatalogContractSpec extends AnyFunSuite {

  test("catalog names are unique (no silent map shadowing)") {
    val names = SparkEntry.catalog.map(_._1)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate catalog names: $dupes")
  }

  test("every oracle key has a query and follows the naming pattern") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    val pat = "^q\\d+_[a-z0-9_]+$".r
    SparkEntry.catalog.map(_._1).foreach { n =>
      assert(pat.matches(n), s"catalog name breaks the q<N>_<slug> pattern: $n")
    }
  }

  test("every catalog entry is oracle-backed (the correctness gate covers it)") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty,
      s"entries without a DuckDB oracle (gate would only rows-check): $unoracled")
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  // The Σ df² tripwire: a shingle self-join over an UNCUT, UNBOUNDED
  // corpus-wide shingle table is quadratic in the hottest shingle's
  // document frequency — the one shape that cannot survive 100 TB.
  // Since the round-12 staging, the exact-semantics consumers
  // (q43/q48/q73/q166) read the shared pair-mirror artifact instead of
  // re-running the join, so the ONLY permitted uncut build site is the
  // mirror build itself (`shPairsBase`, the `none` variant) — which
  // bounds per-key fan-out by running through SkewTools.saltedJoin.
  // Every catalog query that still calls jaccardPairs inline must
  // either engage the stop-shingle df cut or push a bounding slice
  // predicate below the join. Source-level so it catches the
  // regression at `sbt test` time, before any plan is built.
  test("no catalog query builds an uncut corpus-wide shingle self-join inline") {
    val marker = """"(q\d+_[a-z0-9_]+)"\s*->\s*QueryDef\(""".r
    def read(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val queries = graft.SpecFiles.sources("src/main/scala/graft/queries")
    val offenders = queries.flatMap { case (_, text) =>
      val starts = marker.findAllMatchIn(text).toVector
      starts.zipWithIndex.flatMap { case (m, i) =>
        val end = if (i + 1 < starts.size) starts(i + 1).start else text.length
        val block = text.substring(m.start, end)
        val joinsShingles = block.contains("jaccardPairs(")
        val cutEngaged = block.contains("stopShingleDf = Some")
        val bounded = block.contains("""filter(col("doc_id") <""")
        if (joinsShingles && !cutEngaged && !bounded) Some(m.group(1)) else None
      }
    }.toSet
    assert(offenders.isEmpty,
      s"uncut corpus-wide shingle self-join outside the mirror build: $offenders " +
        "— consume shPairsMirror, thread a stop-shingle df cut, " +
        "or bound the slice with filter(col(\"doc_id\") < K)")
    // the mirror build must stay honest: the uncut `none` variant exists
    // exactly once and runs through the salted (skew-bounded) join
    val textQueries = read(new java.io.File(
      "src/main/scala/graft/queries/TextQueries.scala"))
    assert(textQueries.contains("val salt = if (cut.isEmpty) Some(8) else None"),
      "shPairsBase no longer salts the uncut mirror build — the Σ df² " +
        "fan-out bound is gone")
    // and the exact-semantics consumers still share the none-variant set
    Seq("q43_dedup_ngram_jaccard", "q48_dedup_clusters",
        "q166_dedup_clusters_contraction", "q73_dedup_jaccard_salted")
      .foreach { q =>
        val block = {
          val m = marker.findAllMatchIn(textQueries).toVector
          val idx = m.indexWhere(_.group(1) == q)
          val end = if (idx + 1 < m.size) m(idx + 1).start
                    else textQueries.length
          textQueries.substring(m(idx).start, end)
        }
        assert(block.contains("shPairsMirror(s, dir, None"),
          s"$q no longer consumes the shared uncut pair mirror")
      }
  }
}
