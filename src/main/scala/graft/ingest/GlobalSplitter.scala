package graft.ingest

import scala.util.matching.Regex

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** A13: split `global_LIONS.txt` into its stacked per-table fragments.
  *
  * Each table is introduced by a bare `^[A-Z]\S+$` name line followed by a
  * blank line; the fragment runs until the next such name line
  * (ncd/global_file.py:125-167). Driver-side pure string work — fragments
  * are codebook-sized.
  */
object GlobalSplitter {

  private val NameLine: Regex = "(?m)^([A-Z]\\S+)$".r
  private val NextName: Regex = "(?m)\\n*^[A-Z]\\S+$\\s*".r

  /** Returns (tableName -> `header\nruler\nrows` fragment), insertion order
    * = first occurrence; duplicate names keep the first occurrence's start
    * (matching the reference's first-match `re.search` semantics).
    */
  def split(content: String): Map[String, String] = {
    val names = NameLine.findAllMatchIn(content).map(_.group(1)).toVector
    if (names.isEmpty) return Map.empty

    val starts = names.distinct.map { name =>
      val headerRe = ("(?m)^" + Regex.quote(name) + "\\n\\n").r
      headerRe.findFirstMatchIn(content) match {
        case Some(m) => Some(name -> m.end)
        case None    => None // name line not followed by blank line: skip
      }
    }.flatten

    val sortedByPos = starts.sortBy(_._2)
    sortedByPos.zipWithIndex.map { case ((name, start), i) =>
      val hardEnd =
        if (i + 1 < sortedByPos.size) {
          // end at the *name line* of the next table, not its content start
          val nextName = sortedByPos(i + 1)._1
          val nameRe = ("(?m)^" + Regex.quote(nextName) + "$").r
          nameRe.findAllMatchIn(content)
            .find(m => m.start > start).map(_.start).getOrElse(content.length)
        } else content.length
      var fragment = content.substring(start, hardEnd)
      // defensively truncate at any embedded bare name line (reference does
      // the same second-pass trim, ncd/global_file.py:159-162)
      NextName.findFirstMatchIn(fragment).foreach { m =>
        fragment = fragment.substring(0, m.start)
      }
      name -> fragment.trim
    }.toMap
  }

  /** The single tagged pass behind [[splitDistributed]]: one row per
    * content line of any fragment as (table, lineIdx, line) in file order,
    * plus the `(start, end, name)` ranges (line-index space, end
    * exclusive, `Long.MaxValue` = to-EOF).
    */
  private def taggedTableLines(spark: SparkSession, path: String)
      : (Seq[(Long, Long, String)], RDD[(String, Long, String)]) = {
    val bare = "^[A-Z]\\S+$"
    val lines = spark.sparkContext.textFile(path).zipWithIndex()
      .map { case (l, i) => (i, l) }
    val nameIdx = lines                             // marker pass 1: names
      .filter { case (_, l) => l.matches(bare) }
      .collect().sortBy(_._1)                       // tables are few
    if (nameIdx.isEmpty)
      return (Seq.empty, spark.sparkContext.emptyRDD)
    val afterIdx = nameIdx.map(_._1 + 1).toSet
    val blankAt = lines                             // marker pass 2: seps
      .filter { case (i, l) => afterIdx.contains(i) && l.isEmpty }
      .map(_._1).collect().toSet
    val allNames = nameIdx.map(_._1)
    val starts = nameIdx
      .filter { case (i, _) => blankAt.contains(i + 1) }
      .foldLeft(Vector.empty[(Long, String)]) { case (acc, (i, n)) =>
        if (acc.exists(_._2 == n)) acc else acc :+ ((i, n))
      }
    val ranges = starts.map { case (i, name) =>
      val from = i + 2                              // skip name + blank
      val until = allNames.find(_ > i).filter(_ >= from)
        .getOrElse(Long.MaxValue)
      (from, until, name)
    }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(ranges.toArray)
    val tagged = lines.flatMap { case (j, l) =>
      val rs = bc.value
      // ranges are disjoint and sorted: binary-search the greatest start
      // <= j, then membership is one bound check — O(log T) per line
      var lo = 0; var hi = rs.length - 1; var hit = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (rs(mid)._1 <= j) { hit = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (hit >= 0 && j < rs(hit)._2) Some((rs(hit)._3, j, l)) else None
    }
    (ranges, tagged)
  }

  /** Executor-side variant of [[split]] for a dump too large to hold as
    * one driver-side string — drop-in equal to [[split]] over the same
    * file's content. Two metadata-only passes collect the marker lines
    * (bare table names, and the lines just after them to test the blank
    * separator); the `(start, end, name)` ranges are then BROADCAST and
    * every fragment is carved in ONE tagged pass over the file, collected
    * once — the number of full-file scans does not grow with the table
    * count. Grouping is driver-side (the FRAGMENTS are codebook-sized even
    * when the surrounding dump is not). A table starts at a bare
    * `^[A-Z]\S+$` line followed by a blank line (first occurrence per
    * name wins) and runs until the next bare name line.
    */
  def splitDistributed(spark: SparkSession, path: String)
      : Map[String, String] = {
    val (ranges, tagged) = taggedTableLines(spark, path)
    if (ranges.isEmpty) return Map.empty
    val byTable = tagged.collect().groupBy(_._1)
    ranges.map { case (_, _, name) =>
      name -> byTable.getOrElse(name, Array.empty)
        .sortBy(_._2).map(_._3).mkString("\n").trim
    }.toMap
  }
}
