package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.StoredRoot

/** The versioned-root manifest-pointer cutover applied to the lexical
  * (bm25) family — r18 verdict item 6: the in-place
  * [[Lexical.compactLexIndex]] commits through
  * [[graft.sources.StoredRoot.replace]], whose whole-dir swap leaves a
  * probe concurrent with compaction an instant with no index at all;
  * bm25 has live 24/7 serve lines, so this family needs
  * [[graft.sources.StoredRoot.cut]] over the same
  * [[Lexical.compactLexInto]] fold. Pinned like LshVersionedSpec:
  * equality with the plain stored index on every lifecycle op, then an
  * actual probe loop raced against repeated cutover compactions.
  */
class LexVersionedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def probe(root: String): Set[(Long, Double)] = {
    import spark.implicits._
    Lexical.topkBm25Stored(spark, StoredRoot.resolve(spark, root))
      .select($"doc_id", $"score").as[(Long, Double)].collect().toSet
  }

  private def serve(root: String): Set[(Long, Long, Double, Long)] = {
    import spark.implicits._
    Lexical.bm25For(spark, StoredRoot.resolve(spark, root),
        Lexical.ServeQueries.toDF("query_id", "term"))
      .as[(Long, Long, Double, Long)].collect().toSet
  }

  /** Versioned compaction: the shared lexical fold cut into a new version. */
  private def compact(root: String): Unit =
    StoredRoot.cut(spark, root)(
      Lexical.compactLexInto(spark, StoredRoot.resolve(spark, root), _))

  test("versioned build/delete/compact answer exactly like the plain stored index") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lexver").toString
    val root = s"$tmp/root"
    StoredRoot.cut(spark, root)(Lexical.writeLexIndex(spark, sf, _))
    val plain = s"$tmp/plain"
    Lexical.writeLexIndex(spark, sf, plain)
    val expected = Lexical.topkBm25Stored(spark, plain)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toSet
    assert(probe(root) == expected,
      "versioned probe must equal the stored one")
    val expectedServe = Lexical.bm25For(spark, plain,
        Lexical.ServeQueries.toDF("query_id", "term"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(serve(root) == expectedServe,
      "versioned serve batch must equal the stored one")

    // compaction changes WHICH directory serves, never what it answers
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions(): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v_"))
      .map(_.getPath.getName).toSet
    val v0 = versions()
    compact(root)
    assert(probe(root) == expected, "compaction must not change answers")
    assert(versions() != v0 || versions().size > 1,
      "compaction must have produced a new version")

    // tombstone a top-k doc in the live version: it stops answering
    // immediately, and the next cutover folds it physically with
    // postings/doclen/stats becoming visible in ONE flip
    val someDoc = expected.maxBy(_._2)._1
    Lexical.deleteFromLexIndex(spark, StoredRoot.resolve(spark, root),
      Seq(someDoc).toDF("doc_id"))
    val afterDel = probe(root)
    assert(!afterDel.exists(_._1 == someDoc),
      "a tombstoned doc must stop answering on the live version")
    compact(root)
    val live = StoredRoot.resolve(spark, root)
    assert(spark.read.parquet(s"$live/postings")
      .filter($"doc_id" === someDoc).count() == 0,
      "the cutover compaction must purge tombstoned postings physically")
    // stats in step with the folded doclen — the pair the in-place
    // compactor exposes out of step mid-maintenance
    val (nDocs, _) = spark.read.parquet(s"$live/stats")
      .as[(Long, Double)].head()
    assert(nDocs == spark.read.parquet(s"$live/doclen").count(),
      "stats must be in step with the compacted doclen")
    // post-compaction scores = fresh-build-on-survivors (stats moved,
    // so scores legitimately differ from the tombstone-masked ones);
    // survivor SET at the fold is what the contract fixes
    assert(!probe(root).exists(_._1 == someDoc))
    // retention horizon: repeated compactions keep live + 2 retired
    compact(root)
    compact(root)
    assert(versions().size <= 3,
      s"retention must bound version count: ${versions()}")
  }

  test("probes race concurrent cutover compactions with zero failures and stable answers") {
    val tmp = java.nio.file.Files.createTempDirectory("lexverrace").toString
    val root = s"$tmp/root"
    StoredRoot.cut(spark, root)(Lexical.writeLexIndex(spark, sf, _))
    val expected = probe(root)
    assert(expected.nonEmpty)
    @volatile var failure: Option[Throwable] = None
    @volatile var reads = 0
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val got = probe(root)
          if (got != expected)
            throw new AssertionError(
              s"concurrent probe diverged: ${(got diff expected).take(3)}")
          reads += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    }, "lex-versioned-reader")
    reader.start()
    try {
      // two full cutovers while the reader loops — under the
      // in-place triple swap this window transiently 404s directories
      // or mixes old stats with new postings; under the versioned
      // root every resolve serves one complete snapshot. Two, not
      // three: retention keeps the live version and two retired ones,
      // so a third cutover may sweep the version a slow probe resolved
      // before the first (the stated residual, not what this pins)
      for (_ <- 0 until 2) compact(root)
    } finally {
      stop.set(true)
      reader.join(120000)
    }
    assert(failure.isEmpty,
      s"concurrent reader failed: ${failure.map(_.toString).getOrElse("")}")
    assert(reads >= 1, "the race must have exercised at least one read")
    assert(probe(root) == expected)
  }
}
