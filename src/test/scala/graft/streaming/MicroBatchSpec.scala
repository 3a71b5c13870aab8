package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** [[MicroBatch.start]]: every batch reaches the function once, and a
  * throw from the function stops the query with that throw as its
  * cause.
  */
class MicroBatchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("delivers each batch once; a throw fails the query with it as the cause") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seen = new ConcurrentLinkedQueue[Seq[Int]]()
    val calls = new AtomicInteger()
    val boom = new IllegalStateException("third batch")
    val mem = MemoryStream[Int]
    val q = MicroBatch.start(mem.toDF().writeStream) { b =>
      if (calls.incrementAndGet() == 3) throw boom
      seen.add(b.as[Int].collect().toSeq.sorted)
    }
    try {
      mem.addData(1, 2); q.processAllAvailable()
      mem.addData(3); q.processAllAvailable()
      mem.addData(4, 5)
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(e.getCause eq boom, s"cause: ${e.getCause}")
      assert(seen.asScala.toSeq == Seq(Seq(1, 2), Seq(3)))
      assert(calls.get == 3)
    } finally q.stop()
  }
}
