package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The iterated-bisection exact-quantile kernel, forced through its
  * hard paths with a tiny cap (many levels), heavy ties (the min==max
  * early exit), clustered values (all rows land in one bin → the
  * tight child range must still split), and adversarial boundary
  * values — each answer compared to the sorted multiset's true
  * ⌈q·n⌉-th element.
  */
class QuantileBisectionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val qs = Seq(0.01, 0.5, 0.95, 0.99, 1.0)

  private def check(name: String, vals: Seq[Double], cap: Int): Unit = {
    import spark.implicits._
    val df = vals.map((name, _)).toDF("event_type", "value")
    val got = Relational.exactValueQuantiles(df, qs, cap)
      .as[(String, Double, Double)].collect()
      .map(r => r._2 -> r._3).toMap
    val sorted = vals.sorted
    for (q <- qs) {
      val k = math.max(1L, math.ceil(q * vals.length).toLong).toInt
      assert(got(q) == sorted(k - 1),
        s"$name q=$q: got ${got(q)} want ${sorted(k - 1)} (k=$k)")
    }
  }

  test("uniform continuous values, cap forcing multiple levels") {
    val rnd = new scala.util.Random(42)
    check("uniform", Seq.fill(5000)(rnd.nextDouble() * 1e6 - 5e5), cap = 16)
  }

  test("heavy ties: a few distinct values dominate") {
    val rnd = new scala.util.Random(7)
    check("ties", Seq.fill(4000)(Seq(1.0, 2.0, 2.0, 2.0, 3.5)(rnd.nextInt(5))),
      cap = 8)
  }

  test("all values equal (min==max short-circuit)") {
    check("const", Seq.fill(1000)(13.25), cap = 4)
  }

  test("clustered: 99% of mass inside a sliver of the range") {
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(3000)(1000.0 + rnd.nextDouble() * 1e-6) ++
      Seq(-1e9, 1e9)
    check("clustered", vals, cap = 8)
  }

  test("multiple keys refine independently") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (Seq.fill(2000)(("a", rnd.nextGaussian())) ++
      Seq.fill(1500)(("b", rnd.nextDouble() * 100)) ++
      Seq.fill(10)(("tiny", rnd.nextDouble())))
    val got = Relational.exactValueQuantiles(
        rows.toDF("event_type", "value"), qs, cap = 16)
      .as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((key, vs) <- rows.groupBy(_._1); q <- qs) {
      val sorted = vs.map(_._2).sorted
      val k = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
      assert(got((key, q)) == sorted(k - 1), s"$key q=$q")
    }
  }

  test("stored histogram probe equals the session path") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val ev = (Seq.fill(3000)(("a", rnd.nextGaussian() * 50)) ++
      Seq.fill(2000)(("b", rnd.nextDouble()))).toDF("event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("qhist").toString + "/h"
    Relational.writeQuantileHist(ev, dir)
    val got = Relational.quantilesFromStoredHist(spark, dir, ev, qs, cap = 64)
      .as[(String, Double, Double)].collect().toSet
    val want = Relational.exactValueQuantiles(ev, qs, cap = 64)
      .as[(String, Double, Double)].collect().toSet
    assert(got == want)
  }

  test("streamed merges: out-of-range extremes and a new type stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(9)
    // batch 1 freezes edges on [0, 100]; batch 2 lands far outside
    // them AND introduces a type batch 1 never saw
    val b1 = Seq.fill(2000)(("a", rnd.nextDouble() * 100))
    val b2 = Seq.fill(1000)(("a", rnd.nextDouble() * 1e6 - 5e5)) ++
      Seq.fill(500)(("fresh", rnd.nextGaussian()))
    val dir = java.nio.file.Files.createTempDirectory("qstream").toString + "/h"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = graft.streaming.MicroBatch.start(
      mem.toDF().toDF("event_type", "value").writeStream)(b =>
      Relational.mergeIntoQuantileHist(b, dir))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2).toDF("event_type", "value")
    val got = Relational.quantilesFromStoredHist(spark, dir, all, qs, cap = 32)
      .as[(String, Double, Double)].collect().toSet
    val want = Relational.exactValueQuantiles(all, qs, cap = 32)
      .as[(String, Double, Double)].collect().toSet
    assert(got == want)
    // the stored relation stays bounded: ≤ types × bins rows
    assert(spark.read.parquet(s"$dir/hist").count() <=
      2L * Relational.QuantileBins)
  }

  test("nulls are excluded from the order statistics") {
    import spark.implicits._
    val df = (Seq.fill(50)(Some(5.0)) ++ Seq.fill(50)(None) ++
      Seq.fill(50)(Some(1.0)))
      .map(v => ("n", v)).toDF("event_type", "value")
    val got = Relational.exactValueQuantiles(df, Seq(0.5), cap = 8)
      .as[(String, Double, Double)].collect()
    // 100 non-null values: k=50 → the 50th smallest = 1.0
    assert(got.head._3 == 1.0)
  }
}
