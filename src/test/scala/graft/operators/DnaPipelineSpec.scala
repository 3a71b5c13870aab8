package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.DnaFunctions

class DnaPipelineSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("fused pipeline: every document roundtrips") {
    import spark.implicits._
    val bad = DnaPipeline.fileReport(spark, sf)
      .filter($"status" =!= "success" ||
        $"original_checksum" =!= $"reconstructed_checksum")
      .count()
    assert(bad == 0)
  }

  test("grouped reconstruction equals original text") {
    import spark.implicits._
    val recon = DnaPipeline.queries("dna_reconstruct")(spark, sf)
    val expected = graft.Tables.documents(spark, sf)
      .select($"doc_id", md5(to_binary($"text", lit("utf-8"))).as("recon_md5"))
    assert(recon.except(expected).count() == 0)
    assert(expected.except(recon).count() == 0)
  }

  test("dedup is idempotent: tracking everything leaves nothing to process") {
    val files = DnaPipeline.discover(spark, sf)
    val all = DnaPipeline.dedupAgainstTracking(files, files)
    assert(all.count() == 0)
    // and against an empty tracking set, everything flows through
    val none = DnaPipeline.dedupAgainstTracking(files, files.limit(0))
    assert(none.count() == files.count())
  }

  test("corrupted chunks fail validation (dead-letter branch predicate)") {
    import spark.implicits._
    val chunks = DnaPipeline.chunkRelation(spark, sf).limit(20)
      // flip the sequence: decoded bytes no longer match the checksum
      .withColumn("dna_sequence", reverse($"dna_sequence"))
      .withColumn("valid",
        DnaFunctions.validateChunk($"dna_sequence", $"chunk_nbytes", $"checksum"))
    val n = chunks.count()
    val invalid = chunks.filter(!$"valid").count()
    assert(n == 20 && invalid > 15, s"expected most corrupted chunks invalid, got $invalid/$n")
  }

  test("encoded sequences never contain homopolymers") {
    import spark.implicits._
    val n = DnaPipeline.chunkRelation(spark, sf)
      .filter(DnaFunctions.hasHomopolymers($"dna_sequence"))
      .count()
    assert(n == 0)
  }

  test("DNA base density invariant: 4.8 < bases/byte < 5.3 for every source") {
    import spark.implicits._
    // pins total_dna_bases (not ANSI-SQL-expressible, so outside the
    // oracle): base-3 encoding expands bytes by 8/log2(3) ≈ 5.05
    val off = DnaPipeline.dnaBaseStats(spark, sf)
      .select($"total_dna_bases".cast("double") / $"total_bytes")
      .as[Double].collect()
    assert(off.nonEmpty)
    assert(off.forall(r => r > 4.8 && r < 5.3), off.mkString(","))
  }

  test("aggregator reconstructs a 10k-chunk file (no collect_list array)") {
    import spark.implicits._
    // one 640 kB document -> 10_000 chunks of 64 bytes
    val text = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < 640000) { sb.append(s"w$i "); i += 1 }
      sb.toString.substring(0, 640000)
    }
    val chunks = graft.codec.DnaCodec
      .createDnaChunks(text, DnaPipeline.ChunkSize, DnaPipeline.Nsym)
      .map(c => DnaFunctions.ChunkSlice(0L, c.index, c.dnaSequence, c.originalLengthBytes))
      .toDS()
      .repartition(8) // chunks scattered: partial aggregation must merge
    assert(chunks.count() == 10000)
    val recon = chunks.groupByKey(_.doc_id)
      .agg(DnaFunctions.ReconstructAggregator.toColumn.name("r"))
      .collect().head._2
    assert(recon == text)
  }
}
