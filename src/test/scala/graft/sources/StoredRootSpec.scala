package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** [[StoredRoot.replace]]'s crash window: a crash between the swap's two
  * renames leaves `<target>` missing and the only good copy under
  * `<target>_old`. The next merge into that target must read the old
  * copy back, not start from "nothing stored" and delete it. Each case
  * builds a stored layout, moves its target to `_old` (the state the
  * crash leaves) and merges a batch through a real mutator.
  */
class StoredRootSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** The state a crash between the two renames leaves behind. */
  private def strand(target: String): Unit =
    Files.move(Paths.get(target), Paths.get(target + "_old"))

  test("a quantile-hist merge after a crash mid-swap keeps the stored history") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val old = Seq.fill(400)(("a", rnd.nextDouble() * 100)) ++
      Seq.fill(300)(("b", rnd.nextGaussian()))
    val batch = Seq.fill(200)(("a", rnd.nextDouble() * 100)) ++
      Seq.fill(100)(("c", rnd.nextDouble()))
    val tmp = Files.createTempDirectory("qhistcrash").toString
    def hist(dir: String): Set[(String, Long, Long, Double, Double)] =
      spark.read.parquet(s"$dir/hist")
        .select($"event_type", $"bin", $"cnt", $"bmn", $"bmx")
        .as[(String, Long, Long, Double, Double)].collect().toSet
    // no crash: the reference state
    val clean = s"$tmp/clean"
    Relational.writeQuantileHist(old.toDF("event_type", "value"), clean)
    Relational.mergeIntoQuantileHist(batch.toDF("event_type", "value"), clean)

    val dir = s"$tmp/h"
    Relational.writeQuantileHist(old.toDF("event_type", "value"), dir)
    strand(dir)
    Relational.mergeIntoQuantileHist(batch.toDF("event_type", "value"), dir)
    assert(spark.read.parquet(s"$dir/hist").agg(sum($"cnt")).as[Long].head() ==
      old.size + batch.size, "the merge lost the stored rows")
    assert(hist(dir) == hist(clean))
    assert(!Files.exists(Paths.get(dir + "_old")))
  }

  test("a concurrency-count merge after a crash mid-swap keeps the stored counts") {
    import spark.implicits._
    def ms(pred: org.apache.spark.sql.Column) =
      graft.Tables.events(spark, sf)
        .select($"user_id", expr("unix_micros(ts) div 1000").as("ts_ms"))
        .filter(pred)
    def answers(dir: String): Map[(Long, Long), Long] =
      Relational.concurrencyFromStored(spark, sf, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = Files.createTempDirectory("conccrashfull").toString
    Relational.writeConcurrencyLayout(spark, sf, full)

    val dir = Files.createTempDirectory("conccrash").toString
    Relational.appendToConcurrencyLayout(spark, ms($"user_id" % 2 === 0), dir)
    strand(s"$dir/counts")
    Relational.appendToConcurrencyLayout(spark, ms($"user_id" % 2 =!= 0), dir)
    def events(d: String): Long =
      spark.read.parquet(s"$d/counts/cb").agg(sum($"cb")).as[Long].head()
    assert(events(dir) == events(full), "the merge lost the stored counts")
    assert(answers(dir) == answers(full))
    assert(!Files.exists(Paths.get(s"$dir/counts_old")))
  }
}
