package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.codec.Goldman

/** Native-expression codec: SQL surface, codegen path, and equivalence
  * with both the UDF layer and the pure codec.
  */
class DnaExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // suites share one JVM: if another suite built the session first,
    // withExtensions was never applied — register late instead
    GraftExtensions.register(s)
    s
  }

  test("dna_encode/dna_decode SQL roundtrip over arbitrary strings") {
    import spark.implicits._
    Seq("hello", "éàçùñ — mixed UTF-8", "a" * 500)
      .toDF("s")
      .createOrReplaceTempView("t")
    val bad = spark.sql(
      """SELECT s, dna_decode(dna_encode(encode(s, 'UTF-8')),
         octet_length(encode(s, 'UTF-8'))) AS back FROM t""")
      .filter("decode(back, 'UTF-8') <> s OR back IS NULL")
    assert(bad.count() == 0)
  }

  test("reference quirk: decoding to width 0 yields one NUL byte (python data[-0:])") {
    // `plugins/utils/dna_encoding.py:74-76`: data[-0:] is the WHOLE
    // buffer in Python, so target_length_bytes=0 returns b'\x00'.
    val r = spark.sql(
      "SELECT octet_length(dna_decode(dna_encode(X''), 0)) AS n").collect().head
    assert(r.getInt(0) == 1)
  }

  test("expression output equals the pure codec (interpreted and codegen'd)") {
    import spark.implicits._
    val data = Seq(Array[Byte](0, 1, 2, 127, -128, -1), Array[Byte]())
    val df = data.toDF("b").selectExpr("dna_encode(b) AS dna")
    val got = df.as[String].collect().toSeq
    val want = data.map(Goldman.bytesToDna)
    assert(got == want)
  }

  test("encode expression participates in whole-stage codegen") {
    // a local relation would be constant-folded away — use range
    val plan = spark.range(4)
      .selectExpr("dna_encode(CAST(CONCAT('k', id) AS BINARY)) AS dna")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen in:\n$plan")
  }

  test("nulls propagate (null input -> null output, no NPE)") {
    val n = spark.sql("SELECT dna_encode(CAST(NULL AS BINARY)) AS x")
      .filter("x IS NOT NULL").count()
    assert(n == 0)
  }

  test("dna_process native expression equals the UDF kernel field-for-field") {
    import spark.implicits._
    val texts = Seq("short", "é mixed — utf8 " * 20, "z" * 500, "")
    val df = texts.toDF("text")
    val native = df.select(
      graft.functions.DnaFunctions.dnaProcessNative(spark, 64, 4)($"text").as("r"))
      .select($"r.*")
    val viaUdf = df.select(
      graft.functions.DnaFunctions.dnaProcess(64, 4)($"text").as("r"))
      .select($"r.*")
    assert(native.columns.toSeq == viaUdf.columns.toSeq)
    assert(native.except(viaUdf).count() == 0)
    assert(viaUdf.except(native).count() == 0)
    // the report's chunk rows are the encode-only chunk function's rows
    val encodeOnly = df.select(
      graft.functions.DnaFunctions.dnaChunks(64, 4)($"text").as("chunks"))
    assert(native.select($"chunks").except(encodeOnly).count() == 0)
    assert(encodeOnly.except(native.select($"chunks")).count() == 0)
    // null text -> null report struct, no NPE
    val n = Seq[String](null).toDF("text")
      .select(graft.functions.DnaFunctions.dnaProcessNative(spark, 64, 4)($"text").as("r"))
      .filter($"r".isNotNull).count()
    assert(n == 0)
  }

  test("dna_process stays inside whole-stage codegen and rejects non-literal params") {
    val plan = spark.range(4)
      .selectExpr("dna_process(CONCAT('doc ', id, ' body text here'), 64, 4) AS r")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen in:\n$plan")
    val err = intercept[Exception] {
      spark.range(4)
        .selectExpr("dna_process('x', CAST(id AS INT), 4)").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }
}
