package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Per-batch progress accounting for the streaming bench twins
  * (round-12 verdict #4): wall time alone cannot separate the
  * sentinel's fixed overhead (N AvailableNow triggers × state-store
  * commits) from real state work, so after each run the query's
  * progress events are folded into a per-job summary the bench emits
  * as `stream_batch_metrics` in its JSON line. Purely additive — the
  * recorded run is the same run that was timed.
  *
  * `state_commit_ms` (the state operators' commits: each partition's
  * delta file closed, checksummed and renamed into the checkpoint) and
  * `wal_commit_ms` (the offset-log write) are checkpoint I/O, not state
  * work. Both go through the checkpoint's FileContext, which is why they
  * fell once [[StreamStart]] bound it to [[graft.fs.NioLocalFs]].
  */
object StreamMetrics {

  private val metrics =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fold the finished query's recentProgress into a JSON fragment.
    * Keyed by bench name; a later run of the same job overwrites, so
    * the bench line carries the LAST timed run's breakdown.
    */
  def record(name: String, q: StreamingQuery): Unit = {
    val ps = q.recentProgress
    if (ps.isEmpty) return
    def dur(k: String): Long = ps.iterator.map { p =>
      val v = p.durationMs.get(k)
      if (v == null) 0L else v.longValue()
    }.sum
    val rows = ps.iterator.map(_.numInputRows).sum
    val stateCommitMs =
      ps.iterator.flatMap(_.stateOperators).map(_.commitTimeMs).sum
    val stateRows = ps.reverseIterator.flatMap(_.stateOperators)
      .map(_.numRowsTotal).take(1).toSeq.headOption.getOrElse(0L)
    metrics.put(name,
      s"""{"batches":${ps.length},"input_rows":$rows,""" +
        s""""trigger_ms":${dur("triggerExecution")},""" +
        s""""add_batch_ms":${dur("addBatch")},""" +
        s""""plan_ms":${dur("queryPlanning")},""" +
        s""""wal_commit_ms":${dur("walCommit")},""" +
        s""""offset_ms":${dur("latestOffset") + dur("commitOffsets")},""" +
        s""""state_commit_ms":$stateCommitMs,""" +
        s""""state_rows_final":$stateRows}""")
  }

  /** JSON object of all recorded jobs, for the bench line. */
  def json: String = {
    val b = scala.collection.mutable.SortedMap.newBuilder[String, String]
    metrics.forEach((k, v) => b += (k -> v))
    b.result().map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
  }
}
