package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryException}

import graft.fs.NioLocalFs

/** The one way the library starts a stream: `StreamStart(ds)(_.format(..)
  * .option(..))` configures `ds.writeStream` and starts it with the
  * checkpoint's FileContext bound to [[graft.fs.NioLocalFs]], so the
  * state-store, offset and commit logs are written without a `chmod` or
  * `readlink` child process per file.
  *
  * The binding is set on the session conf only while the query starts:
  * the query clones the session when it is created, so its offset,
  * commit and state logs keep the binding. Its sources are created on the
  * query's thread after `start()` returns, from the caller's session, so
  * the binding stays until the query reports itself initialized; then the
  * caller's own value (or its absence) is restored. Starts are serialized
  * so that two threads starting streams on one session cannot restore
  * each other's value.
  */
object StreamStart {
  private val lock = new Object

  def apply[T](ds: Dataset[T])(
      configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery =
    lock.synchronized {
      val conf = ds.sparkSession.conf
      val prior = conf.getOption(NioLocalFs.ImplKey)
      conf.set(NioLocalFs.ImplKey, classOf[NioLocalFs].getName)
      try {
        val q = configure(ds.writeStream).start()
        q match {
          case w: StreamingQueryWrapper =>
            // a query that dies while initializing reports its error
            // through the returned query, as it would without the wait
            try w.streamingQuery.awaitInitialization(Long.MaxValue)
            catch { case _: StreamingQueryException => }
          case _ =>
        }
        q
      } finally prior.fold(conf.unset(NioLocalFs.ImplKey))(
        conf.set(NioLocalFs.ImplKey, _))
    }
}
