package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one `foreachBatch` adapter: every streamed operation that is a
  * batch kernel applied per micro-batch runs through here. A
  * micro-batch of rows is exactly the batch the kernel was built for,
  * so streaming adds scheduling, not a second implementation that
  * could drift: `MicroBatch.start(df.writeStream)(b =>
  * Similarity.appendToLshIndex(b.sparkSession, dir, b))` is the
  * streamed append, and the same shape serves every stored probe,
  * append, takedown and sketch merge.
  *
  * The caller configures the writer (checkpoint, trigger) before
  * handing it over. A throw from `f` fails the batch and stops the
  * query with a `StreamingQueryException` whose cause is that throw;
  * the batch is replayed on restart from the checkpoint, so `f` must
  * be safe to run again on the same rows.
  */
object MicroBatch {

  def start(w: DataStreamWriter[Row])(f: DataFrame => Unit): StreamingQuery =
    w.foreachBatch { (batch: Dataset[Row], _: Long) => f(batch) }.start()
}
