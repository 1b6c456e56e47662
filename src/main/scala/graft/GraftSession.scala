package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a session: `local[cpus]` with `cpus`
  * shuffle partitions, session time zone UTC (the oracle and the
  * `Tables.table` timestamp normalisation both assume it), the UI off, and
  * [[graft.plans.GraftExtensions]] installed (the one registry of the
  * native functions; it also plans the as-of join). Local FileContext
  * paths resolve to [[graft.fs.NioLocalFs]], so a stream started on the
  * session directly writes its checkpoint as one started through
  * [[graft.streaming.StreamStart]] does.
  *
  * Callers with extra needs chain onto the returned builder before
  * `getOrCreate()` — a warehouse dir, Hive support, or a different
  * `master` — and a later setting of the same key wins.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop." + graft.fs.NioLocalFs.ImplKey,
        classOf[graft.fs.NioLocalFs].getName)
      .withExtensions(new graft.plans.GraftExtensions)
}
