package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stored NB quality model's erasure contract (r16 verdict item
  * 4): the model is persisted as its sufficient statistics (per-token
  * class counts + labeled-doc tallies + the frozen gate thresholds),
  * which are LINEAR in training documents — so unlearning a training
  * doc is an exact count subtraction, never a retrain, and the folded
  * model equals a retrain over the survivors with the FROZEN labels.
  */
class NbLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Controlled corpus: "zebraonly" is carried ONLY by doc 1 (its
    * erasure must drop the vocabulary row); alpha ratios differ per
    * doc so the gate's percentile cut labels a real mix.
    */
  private def fixture(source: org.apache.spark.sql.Column = lit("spec")): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("nblife").toString
    Seq(
      (1L, "zebraonly apple apple banana 123 456 789 000 111"),
      (2L, "banana cherry apple words all letters here fine ok"),
      (3L, "cherry dog banana mixed 55 text with some digits"),
      (4L, "dog apple cherry clean alphabetic line of words"),
      (5L, "banana dog 99 88 77 66 55 44 33 22 11"))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        source.as("source"), length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def weightsOf(w: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    import spark.implicits._
    w.as[(String, Double)].collect().toMap
  }

  test("stored round trip: counts-layout read derives the session model exactly") {
    val tmp = fixture()
    val dir = s"$tmp/model"
    TextAnalysis.writeNbModel(spark, tmp, dir)
    val (wSession, pSession) = TextAnalysis.nbModel(spark, tmp)
    val (wStored, pStored) = TextAnalysis.readNbModel(spark, dir)
    assert(pStored == pSession, "prior must round-trip exactly")
    assert(weightsOf(wStored) == weightsOf(wSession),
      "weights derived from stored counts must equal the session model")
  }

  test("unlearning: subtract ≡ retrain over survivors with frozen labels") {
    import spark.implicits._
    val tmp = fixture()
    val dir = s"$tmp/model"
    TextAnalysis.writeNbModel(spark, tmp, dir)
    val deleted = graft.Tables.documents(spark, tmp)
      .filter($"doc_id" === 1L)
    TextAnalysis.deleteFromNbModel(spark, dir, deleted)
    // expected counts: survivor tokens joined to the FULL-corpus gate
    // labels (the frozen supervision), recomputed from the base table
    val labels = {
      val pass = TextAnalysis.queries("txt_quality_gate")(spark, tmp)
        .select($"doc_id", lit(1L).as("pass"))
      graft.Tables.documents(spark, tmp).select($"doc_id")
        .join(pass, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"pass", lit(0L)).as("label"))
    }
    val expected = graft.Tables.documents(spark, tmp)
      .filter($"doc_id" =!= 1L)
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .join(labels, Seq("doc_id"))
      .groupBy($"tok")
      .agg(sum(when($"label" === 1, $"tf").otherwise(0L)).as("c_pos"),
        sum(when($"label" === 0, $"tf").otherwise(0L)).as("c_neg"))
      .as[(String, Long, Long)].collect()
      .map { case (t, p, n) => t -> (p, n) }.toMap
    val folded = spark.read.parquet(s"$dir/counts")
      .groupBy($"tok")
      .agg(sum($"c_pos").as("c_pos"), sum($"c_neg").as("c_neg"))
      .filter($"c_pos" + $"c_neg" > 0)
      .as[(String, Long, Long)].collect()
      .map { case (t, p, n) => t -> (p, n) }.toMap
    assert(folded == expected,
      s"subtracted counts must equal the survivors' retrain counts")
    // the sole-carrier token's vocabulary row is GONE (a retrain
    // would never see it; its smoothing mass must not linger)
    val (w, _) = TextAnalysis.readNbModel(spark, dir)
    assert(!weightsOf(w).contains("zebraonly"),
      "a token whose every carrier was deleted must leave the vocabulary")
    assert(weightsOf(w).contains("banana"),
      "tokens with surviving carriers keep their rows")
  }

  test("append: counts-add ingest ≡ retrain over the union with frozen thresholds; delete inverts it") {
    import spark.implicits._
    val tmp = fixture()
    val slicePred = $"doc_id" <= 3L
    val batch = graft.Tables.documents(spark, tmp).filter($"doc_id" > 3L)
    val dirA = s"$tmp/incrA"
    TextAnalysis.writeNbModel(spark, tmp, dirA, slicePred)
    val (w0, p0) = TextAnalysis.readNbModel(spark, dirA)
    val base = (weightsOf(w0), p0)
    TextAnalysis.appendToNbModel(spark, dirA, batch)
    val (wA, pA) = TextAnalysis.readNbModel(spark, dirA)
    // ground truth: the SAME frozen slice thresholds, one train over
    // the union — constructed by rebuilding the count algebra from
    // scratch through the append kernel itself
    val dirB = s"$tmp/incrB"
    TextAnalysis.writeNbModel(spark, tmp, dirB, slicePred)
    val fs = new org.apache.hadoop.fs.Path(dirB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dirB/counts"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dirB/scalars"), true)
    TextAnalysis.appendToNbModel(spark, dirB,
      graft.Tables.documents(spark, tmp))
    val (wB, pB) = TextAnalysis.readNbModel(spark, dirB)
    assert(pA == pB, s"append prior must equal the union retrain: $pA vs $pB")
    assert(weightsOf(wA) == weightsOf(wB),
      "append weights must equal the union retrain with frozen thresholds")
    // the base model and the appended one must actually differ (the
    // fixture batch carries new supervision mass) — else the
    // equivalence above is vacuous
    assert(weightsOf(wA) != base._1 || pA != base._2,
      "fixture broken: the appended batch changed nothing")
    // involution: unlearning the same batch restores the base model
    // exactly — batch-only vocabulary folds to zero and drops
    TextAnalysis.deleteFromNbModel(spark, dirA, batch)
    val (wI, pI) = TextAnalysis.readNbModel(spark, dirA)
    assert(pI == base._2 && weightsOf(wI) == base._1,
      "append-then-delete must be an exact involution")
  }

  test("a slice model may be cut by any documents column, not only doc_id") {
    import spark.implicits._
    val tmp = fixture(when($"doc_id" <= 3L, "web").otherwise("book"))
    TextAnalysis.writeNbModel(spark, tmp, s"$tmp/bySource", $"source" === "web")
    TextAnalysis.writeNbModel(spark, tmp, s"$tmp/byId", $"doc_id" <= 3L)
    val (wS, pS) = TextAnalysis.readNbModel(spark, s"$tmp/bySource")
    val (wI, pI) = TextAnalysis.readNbModel(spark, s"$tmp/byId")
    assert(pS == pI)
    assert(weightsOf(wS) == weightsOf(wI))
    assert(!weightsOf(wS).contains("99"), "a token only the other slice carries")
  }

  test("an empty takedown batch is a no-op, not a crash") {
    import spark.implicits._
    val tmp = fixture()
    val dir = s"$tmp/model"
    TextAnalysis.writeNbModel(spark, tmp, dir)
    val (wPre, pPre) = TextAnalysis.readNbModel(spark, dir)
    val pre = weightsOf(wPre)
    // a legitimate takedown-feed trigger with no matching docs
    TextAnalysis.deleteFromNbModel(spark, dir,
      graft.Tables.documents(spark, tmp).filter($"doc_id" === -1L))
    val (wPost, pPost) = TextAnalysis.readNbModel(spark, dir)
    assert(weightsOf(wPost) == pre && pPost == pPre,
      "deleting nothing must change nothing")
  }

  test("compaction folds physically without changing the readout") {
    import spark.implicits._
    val tmp = fixture()
    val dir = s"$tmp/model"
    TextAnalysis.writeNbModel(spark, tmp, dir)
    TextAnalysis.deleteFromNbModel(spark, dir,
      graft.Tables.documents(spark, tmp).filter($"doc_id" === 1L))
    val (wPre, pPre) = TextAnalysis.readNbModel(spark, dir)
    val pre = weightsOf(wPre)
    TextAnalysis.compactNbModel(spark, dir)
    val (wPost, pPost) = TextAnalysis.readNbModel(spark, dir)
    assert(weightsOf(wPost) == pre && pPost == pPre,
      "compaction must not change the derived model")
    // physically folded: no cancelled rows, one row per token, one
    // scalar row
    val counts = spark.read.parquet(s"$dir/counts")
    assert(counts.filter($"c_pos" + $"c_neg" <= 0).count() == 0,
      "cancelled count rows must be gone after compaction")
    assert(counts.groupBy($"tok").count().filter($"count" > 1).count() == 0,
      "compaction must leave one row per token")
    assert(spark.read.parquet(s"$dir/scalars").count() == 1,
      "compaction must leave one scalar row")
  }
}
