package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.StoredRoot

/** The stored lexical (postings) index contract: a fresh session
  * probing the written layout answers exactly like the raw-text scan,
  * the probe's postings read is partition-pruned to the query terms'
  * buckets, doc lengths denormalized into postings agree with the
  * doclen relation, and an append behaves as if the batch had been in
  * the original build.
  */
class LexIndexSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def topk(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] = {
    import df.sparkSession.implicits._
    df.as[(Long, Double)].collect().toSeq
  }

  /** The visible postings files relative to the postings root — the
    * crash simulations use this to forge the append-pending marker's
    * pre-batch manifest exactly as appendToLexIndex writes it.
    */
  private def relPostings(dir: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$dir/postings"))
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val rel = fs.makeQualified(f.getPath).toString
        .stripPrefix(root.toString).stripPrefix("/")
      if (f.isFile && !rel.split("/").exists(seg =>
          seg.startsWith("_") || seg.startsWith(".")))
        buf += rel
    }
    buf.sorted.toSeq
  }

  private def writeMarker(dir: String, manifest: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_graft_append_pending"), true)
    out.write(manifest.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  test("stored probe parity: fresh session equals the raw-text scan") {
    val dir = java.nio.file.Files.createTempDirectory("lexstore").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val expect = topk(TextAnalysis.queries("txt_bm25_topk")(spark, sf))
    assert(expect.nonEmpty)
    val s2 = spark.newSession()
    assert(topk(Lexical.topkBm25Stored(s2, dir)) == expect)
  }

  test("postings probe scan is partition-pruned and term-pushed") {
    val dir = java.nio.file.Files.createTempDirectory("lexplan").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val probe = Lexical.topkBm25Stored(spark, dir)
    probe.collect()
    val scan = probe.queryExecution.executedPlan.toString.split('\n')
      .filter(_.contains("FileScan parquet"))
      .find(_.contains("postings"))
      .getOrElse(fail("no FileScan over postings in the plan"))
    assert(scan.contains("PartitionFilters") && scan.contains("pbucket"),
      s"postings scan not partition-pruned: $scan")
    assert(scan.contains("PushedFilters") && scan.contains("term"),
      s"term predicate not pushed to the postings scan: $scan")
  }

  test("denormalized dl in postings matches the doclen relation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexdl").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val fromPost = spark.read.parquet(s"$dir/postings")
      .select($"doc_id", $"dl").distinct()
    val fromDl = spark.read.parquet(s"$dir/doclen")
      .join(fromPost.select($"doc_id"), Seq("doc_id"), "left_semi")
    assert(fromPost.count() == fromDl.count())
    assert(fromPost.except(fromDl).isEmpty && fromDl.except(fromPost).isEmpty)
  }

  test("append equals having built on the full corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexappend").toString
    val full = java.nio.file.Files.createTempDirectory("lexfull").toString
    val docs = graft.Tables.documents(spark, sf)

    // build on the even half, append the odd half
    val stagedSf = java.nio.file.Files.createTempDirectory("lexhalf").toString
    docs.filter($"doc_id" % 2 === 0).write.mode("overwrite")
      .parquet(s"$stagedSf/documents.parquet")
    Lexical.writeLexIndex(spark, stagedSf, dir)
    Lexical.appendToLexIndex(spark, dir, docs.filter($"doc_id" % 2 === 1))

    Lexical.writeLexIndex(spark, sf, full)
    assert(topk(Lexical.topkBm25Stored(spark, dir)) ==
      topk(Lexical.topkBm25Stored(spark, full)))
    val stA = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val stF = spark.read.parquet(s"$full/stats").as[(Long, Double)].head()
    assert(stA._1 == stF._1)
    assert(math.abs(stA._2 - stF._2) < 1e-9)
  }

  test("probe on terms absent from the corpus returns no rows") {
    val dir = java.nio.file.Files.createTempDirectory("lexmiss").toString
    Lexical.writeLexIndex(spark, sf, dir)
    assert(Lexical.topkBm25Stored(spark, dir,
      Seq("zz_no_such_token_zz")).isEmpty)
  }

  test("delete: tombstoned docs stop answering; stats/df stay build-time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexdel").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val before = topk(Lexical.topkBm25Stored(spark, dir))
    val victims = before.take(2).map(_._1)
    Lexical.deleteFromLexIndex(spark, dir, victims.toDF("doc_id"))
    val after = topk(Lexical.topkBm25Stored(spark, dir))
    assert(victims.forall(v => !after.exists(_._1 == v)))
    // Lucene-deletes contract: surviving docs keep their BUILD-time
    // scores (df/stats unchanged by the delete)
    val beforeScores = before.toMap
    assert(after.filter(r => beforeScores.contains(r._1))
      .forall(r => beforeScores(r._1) == r._2))
    // idempotent double delete
    Lexical.deleteFromLexIndex(spark, dir, victims.toDF("doc_id"))
    assert(topk(Lexical.topkBm25Stored(spark, dir)) == after)
  }

  test("compaction equals a fresh build on the surviving corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexcomp").toString
    Lexical.writeLexIndex(spark, sf, dir)
    Lexical.deleteFromLexIndex(spark, dir,
      graft.Tables.documents(spark, sf).select($"doc_id")
        .filter($"doc_id" % 3 === 0))
    Lexical.compactLexIndex(spark, dir)

    val survivors = java.nio.file.Files.createTempDirectory("lexsurv").toString
    graft.Tables.documents(spark, sf).filter($"doc_id" % 3 =!= 0)
      .write.mode("overwrite").parquet(s"$survivors/documents.parquet")
    val fresh = java.nio.file.Files.createTempDirectory("lexfresh").toString
    Lexical.writeLexIndex(spark, survivors, fresh)

    // post-compaction stats ARE the survivors' stats (scores shift —
    // the stated merge semantics) and the probes agree exactly
    assert(topk(Lexical.topkBm25Stored(spark, dir)) ==
      topk(Lexical.topkBm25Stored(spark, fresh)))
    val stC = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val stF = spark.read.parquet(s"$fresh/stats").as[(Long, Double)].head()
    assert(stC == stF)
    // tombstones cleared
    assert(!new java.io.File(s"$dir/_graft_doc_tombstones").exists())
  }

  test("bm25For: the fixed-terms query served through the batch API matches the probe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexserve").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val q = TextAnalysis.Bm25QueryTerms.map(t => (7L, t)).toDF("query_id", "term")
    val served = Lexical.bm25For(spark, dir, q)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toSeq
    assert(served == topk(Lexical.topkBm25Stored(spark, dir)))
  }

  test("bm25For: over-cap batches auto-split into pruned groups, answers unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexsplit").toString
    Lexical.writeLexIndex(spark, sf, dir)
    // a batch whose per-query term sets straddle ANY group boundary:
    // real corpus terms mixed with absent ones, shared across queries
    val extra = (1 to 40).map(i => s"zz_absent_$i")
    val rows = Lexical.ServeQueries ++ extra.zipWithIndex.map {
      case (t, i) => (5L + i % 3) -> t
    }
    val q = rows.toDF("query_id", "term")
    val unsplit = Lexical.bm25For(spark, dir, q)
      .as[(Long, Long, Double, Long)].collect().toSet
    // cap=2 forces ~20 groups; every (query, doc) score must still sum
    // its cross-group term contributions to the unsplit value exactly
    val split = Lexical.bm25For(spark, dir, q, termCap = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(split == unsplit)
    // and a >cap batch no longer throws through the declared entry
    assert(Lexical.bm25For(spark, dir, q, termCap = 3).count() ==
      unsplit.size)
  }

  test("repair restores stats/doclen after an interrupted append") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexcrash").toString
    val full = java.nio.file.Files.createTempDirectory("lexcrashfull").toString
    val docs = graft.Tables.documents(spark, sf)
    val stagedSf = java.nio.file.Files.createTempDirectory("lexcrashhalf").toString
    docs.filter($"doc_id" % 2 === 0).write.mode("overwrite")
      .parquet(s"$stagedSf/documents.parquet")
    Lexical.writeLexIndex(spark, stagedSf, dir)
    val preStats = spark.read.parquet(s"$dir/stats")
      .as[(Long, Double)].head()
    val preDoclen = spark.read.parquet(s"$dir/doclen").collect()
    val preList = relPostings(dir)
    Lexical.appendToLexIndex(spark, dir, docs.filter($"doc_id" % 2 === 1))
    // simulate the crash window: postings landed, doclen/stats did not
    // (rewrite both back to their pre-append contents)
    StoredRoot.replace(spark, s"$dir/doclen") { staging =>
      spark.createDataFrame(java.util.Arrays.asList(preDoclen: _*),
          spark.read.parquet(s"$dir/doclen").schema)
        .write.parquet(staging)
    }
    StoredRoot.replace(spark, s"$dir/stats") { staging =>
      Seq(preStats).toDF("n_docs", "avgdl").write.parquet(staging)
    }
    // a crashed append leaves its pending marker (the successful
    // append above deleted it): re-create it carrying the PRE-batch
    // file manifest, exactly as the real append writes it before its
    // first postings byte lands
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val postList = relPostings(dir)
    val batchFiles = postList.size - preList.size
    writeMarker(dir, preList)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_graft_append_pending")
    // the named failure mode: new postings visible, stale stats →
    // scores in this state are NOT the full-corpus scores
    val scanned = Lexical.repairLexIndex(spark, dir)
    assert(scanned > 0 && scanned <= batchFiles,
      s"recovery must scan the crashed batch's files only: $scanned of ${postList.size} total, batch $batchFiles")
    assert(!fs.exists(marker), "repair clears the pending marker last")
    Lexical.writeLexIndex(spark, sf, full)
    val stR = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val stF = spark.read.parquet(s"$full/stats").as[(Long, Double)].head()
    assert(stR._1 == stF._1 && math.abs(stR._2 - stF._2) < 1e-9)
    assert(spark.read.parquet(s"$dir/doclen").count() ==
      spark.read.parquet(s"$full/doclen").count())
    assert(topk(Lexical.topkBm25Stored(spark, dir)) ==
      topk(Lexical.topkBm25Stored(spark, full)))
    // idempotent on a healthy index
    Lexical.repairLexIndex(spark, dir)
    assert(topk(Lexical.topkBm25Stored(spark, dir)) ==
      topk(Lexical.topkBm25Stored(spark, full)))
  }

  test("an append onto a crashed index self-heals before entering its own window") {
    import spark.implicits._
    // a leftover pending marker is a PREVIOUS append's crash evidence;
    // blindly overwriting it would re-baseline the manifest past the
    // crashed files and bury the inconsistency when this append
    // succeeds. The append must repair first — afterwards the index
    // equals a fresh full build over ALL batches, crashed one included.
    val dir = java.nio.file.Files.createTempDirectory("lexheal").toString
    val docs = graft.Tables.documents(spark, sf)
    val g0 = java.nio.file.Files.createTempDirectory("lexhealg0").toString
    docs.filter($"doc_id" % 3 === 0).write.mode("overwrite")
      .parquet(s"$g0/documents.parquet")
    Lexical.writeLexIndex(spark, g0, dir)
    val preStats = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val preDoclen = spark.read.parquet(s"$dir/doclen").collect()
    val preList = relPostings(dir)
    // batch 1 appends, then "crashes": doclen/stats rewound, marker left
    Lexical.appendToLexIndex(spark, dir, docs.filter($"doc_id" % 3 === 1))
    StoredRoot.replace(spark, s"$dir/doclen") { staging =>
      spark.createDataFrame(java.util.Arrays.asList(preDoclen: _*),
          spark.read.parquet(s"$dir/doclen").schema)
        .write.parquet(staging)
    }
    StoredRoot.replace(spark, s"$dir/stats") { staging =>
      Seq(preStats).toDF("n_docs", "avgdl").write.parquet(staging)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_graft_append_pending")
    // as in the real crash, the marker carries the manifest written
    // BEFORE batch 1's postings landed — every batch-1 file is
    // outside it, so the heal's recovery scan covers all of them
    writeMarker(dir, preList)
    // batch 2 appends onto the crashed index — must heal, then append
    Lexical.appendToLexIndex(spark, dir, docs.filter($"doc_id" % 3 === 2))
    assert(!fs.exists(marker), "a completed append leaves no marker")
    val full = java.nio.file.Files.createTempDirectory("lexhealfull").toString
    Lexical.writeLexIndex(spark, sf, full)
    val stR = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val stF = spark.read.parquet(s"$full/stats").as[(Long, Double)].head()
    assert(stR._1 == stF._1 && math.abs(stR._2 - stF._2) < 1e-9,
      s"healed+appended stats diverged: $stR vs $stF")
    assert(topk(Lexical.topkBm25Stored(spark, dir)) ==
      topk(Lexical.topkBm25Stored(spark, full)),
      "healed+appended probes diverged from the full rebuild")
  }

  test("zero-token docs keep their doclen/stats rows") {
    import spark.implicits._
    // docs with no tokens have no postings, but they are corpus
    // members: doclen must carry their dl=0 rows and stats must count
    // them — else n_docs/avgdl silently shrink and every IDF shifts
    // (pinned against any future doclen derivation change)
    val tmp = java.nio.file.Files.createTempDirectory("lexzero").toString
    import org.apache.spark.sql.functions.{length, lit}
    Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha delta"))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val dir = s"$tmp/idx"
    Lexical.writeLexIndex(spark, tmp, dir)
    val dl = spark.read.parquet(s"$dir/doclen")
      .as[(Long, Int)].collect().toMap
    assert(dl == Map(1L -> 3, 2L -> 0, 3L -> 2),
      s"doclen must cover zero-token docs with dl=0: $dl")
    val (n, avg) = spark.read.parquet(s"$dir/stats")
      .as[(Long, Double)].head()
    assert(n == 3L && math.abs(avg - 5.0 / 3.0) < 1e-12,
      s"stats must count the zero-token doc: ($n, $avg)")
  }

  test("crash recovery: staged doclen restores zero-token docs; an unlanded batch rolls back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    val tmp = java.nio.file.Files.createTempDirectory("lexstage").toString
    Seq((1L, "alpha beta"), (2L, ""), (3L, "alpha delta"))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("lexstagebase").toString
    graft.Tables.documents(spark, tmp).filter($"doc_id" === 1L)
      .write.parquet(s"$base/documents.parquet")
    val dir = s"$tmp/idx"
    Lexical.writeLexIndex(spark, base, dir)
    val preStats = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val preDoclen = spark.read.parquet(s"$dir/doclen").collect()
    val preList = relPostings(dir)
    // the batch carries a ZERO-TOKEN doc (2) — the case the
    // postings-derived recovery structurally cannot restore
    Lexical.appendToLexIndex(spark, dir,
      graft.Tables.documents(spark, tmp).filter($"doc_id" =!= 1L))
    // crash simulation: doclen/stats rewound, marker re-forged with
    // the pre-batch manifest, the staged dl re-created (as the real
    // crash between the postings append and the promote leaves it)
    StoredRoot.replace(spark, s"$dir/doclen") { staging =>
      spark.createDataFrame(java.util.Arrays.asList(preDoclen: _*),
          spark.read.parquet(s"$dir/doclen").schema)
        .write.parquet(staging)
    }
    StoredRoot.replace(spark, s"$dir/stats") { staging =>
      Seq(preStats).toDF("n_docs", "avgdl").write.parquet(staging)
    }
    writeMarker(dir, preList)
    graft.Tables.documents(spark, tmp).filter($"doc_id" =!= 1L)
      .select($"doc_id", org.apache.spark.sql.functions
        .size(TextAnalysis.tokens($"text")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir/_graft_doclen_pending")
    Lexical.repairLexIndex(spark, dir)
    val dl = spark.read.parquet(s"$dir/doclen").as[(Long, Int)].collect().toMap
    assert(dl == Map(1L -> 2, 2L -> 0, 3L -> 2),
      s"the staged recovery must restore the zero-token doc's dl=0 row: $dl")
    val full = java.nio.file.Files.createTempDirectory("lexstagefull").toString
    Lexical.writeLexIndex(spark, tmp, full)
    val stR = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val stF = spark.read.parquet(s"$full/stats").as[(Long, Double)].head()
    assert(stR._1 == stF._1 && math.abs(stR._2 - stF._2) < 1e-12,
      s"repaired stats must equal the full rebuild (zero-token doc counted): $stR vs $stF")
    // rollback: a staged dl whose batch never landed (no new postings
    // file) must be rolled back, restoring the pre-batch state
    val dir2 = s"$tmp/idx2"
    Lexical.writeLexIndex(spark, base, dir2)
    val pre2 = spark.read.parquet(s"$dir2/stats").as[(Long, Double)].head()
    writeMarker(dir2, relPostings(dir2))
    graft.Tables.documents(spark, tmp).filter($"doc_id" =!= 1L)
      .select($"doc_id", org.apache.spark.sql.functions
        .size(TextAnalysis.tokens($"text")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir2/_graft_doclen_pending")
    Lexical.repairLexIndex(spark, dir2)
    val fs = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir2/_graft_doclen_pending")), "an unlanded staging must be rolled back")
    assert(spark.read.parquet(s"$dir2/stats").as[(Long, Double)].head() == pre2,
      "rollback must restore the pre-batch stats exactly")
    assert(spark.read.parquet(s"$dir2/doclen").count() == 1,
      "rollback must not leak the unlanded batch's dl rows")

    // FORCE repair must make the same marker-driven decision: force
    // widens the recovery SCAN to every visible file, but an unlanded
    // batch's staging (marker manifest == visible files) still rolls
    // back — the r17 advice item: the old force path treated all
    // visible files as "recent" and promoted the staging
    // unconditionally, counting docs the index has no postings for
    val dir3 = s"$tmp/idx3"
    Lexical.writeLexIndex(spark, base, dir3)
    val pre3 = spark.read.parquet(s"$dir3/stats").as[(Long, Double)].head()
    writeMarker(dir3, relPostings(dir3))
    graft.Tables.documents(spark, tmp).filter($"doc_id" =!= 1L)
      .select($"doc_id", org.apache.spark.sql.functions
        .size(TextAnalysis.tokens($"text")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir3/_graft_doclen_pending")
    Lexical.repairLexIndex(spark, dir3, force = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir3/_graft_doclen_pending")),
      "force repair must roll back an unlanded staging")
    assert(spark.read.parquet(s"$dir3/stats").as[(Long, Double)].head() == pre3,
      "force repair must not promote an unlanded batch's dl rows")
    assert(spark.read.parquet(s"$dir3/doclen").count() == 1)
    // ...and with no marker at all, a stray staging is garbage from a
    // COMPLETED append (the marker is cleared after the stats swap):
    // force rolls it back rather than double-counting the batch
    val dir4 = s"$tmp/idx4"
    Lexical.writeLexIndex(spark, base, dir4)
    val pre4 = spark.read.parquet(s"$dir4/stats").as[(Long, Double)].head()
    graft.Tables.documents(spark, tmp).filter($"doc_id" =!= 1L)
      .select($"doc_id", org.apache.spark.sql.functions
        .size(TextAnalysis.tokens($"text")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir4/_graft_doclen_pending")
    Lexical.repairLexIndex(spark, dir4, force = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir4/_graft_doclen_pending")),
      "force repair with no marker must roll a stray staging back")
    assert(spark.read.parquet(s"$dir4/stats").as[(Long, Double)].head() == pre4)
  }

  test("repair ignores and clears _temporary leftovers from a crashed postings write") {
    import spark.implicits._
    // the exact scenario the pending marker signals — a crash MID
    // write job — leaves task files under postings/_temporary. A
    // footerless in-flight one must not make repair throw (a wedged
    // marker would re-fail every later append), and a committed-task
    // one (which directory probe reads never see) must not resurrect
    // doclen rows for docs with no visible postings.
    val dir = java.nio.file.Files.createTempDirectory("lextemp").toString
    val docs = graft.Tables.documents(spark, sf)
    val half = java.nio.file.Files.createTempDirectory("lextemphalf").toString
    docs.filter($"doc_id" % 2 === 0).write.mode("overwrite")
      .parquet(s"$half/documents.parquet")
    Lexical.writeLexIndex(spark, half, dir)
    val preStats = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val preDoclen = spark.read.parquet(s"$dir/doclen").collect()
    val preList = relPostings(dir)
    Lexical.appendToLexIndex(spark, dir, docs.filter($"doc_id" % 2 === 1))
    val postList = relPostings(dir)
    // rewind doclen/stats to the pre-append state (the crash window)
    StoredRoot.replace(spark, s"$dir/doclen") { staging =>
      spark.createDataFrame(java.util.Arrays.asList(preDoclen: _*),
          spark.read.parquet(s"$dir/doclen").schema)
        .write.parquet(staging)
    }
    StoredRoot.replace(spark, s"$dir/stats") { staging =>
      Seq(preStats).toDF("n_docs", "avgdl").write.parquet(staging)
    }
    writeMarker(dir, preList)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // in-flight task file: garbage bytes, no parquet footer
    val junk = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/postings/_temporary/0/_temporary/attempt_1/part-00000.parquet"))
    junk.write("not a parquet file".getBytes)
    junk.close()
    // committed-task file: REAL parquet rows for a doc no directory
    // read can serve
    val ghostStage = java.nio.file.Files
      .createTempDirectory("lextempghost").toString
    spark.read.parquet((postList.toSet -- preList.toSet)
        .map(f => s"$dir/postings/$f").toSeq: _*)
      .limit(1)
      .withColumn("doc_id", org.apache.spark.sql.functions.lit(999999L))
      .coalesce(1).write.mode("overwrite").parquet(ghostStage)
    val ghostPart = fs.listStatus(new org.apache.hadoop.fs.Path(ghostStage))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .head.getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$dir/postings/_temporary/0/task_2"))
    require(fs.rename(ghostPart, new org.apache.hadoop.fs.Path(
      s"$dir/postings/_temporary/0/task_2/part-ghost.parquet")))
    val scanned = Lexical.repairLexIndex(spark, dir)
    assert(scanned > 0 && scanned <= postList.size - preList.size,
      s"recovery must scan the crashed batch's VISIBLE files only: $scanned")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/postings/_temporary")), "repair clears _temporary leftovers")
    assert(spark.read.parquet(s"$dir/doclen")
      .filter($"doc_id" === 999999L).count() == 0,
      "committed-task files under _temporary must not resurrect doclen rows")
    val full = java.nio.file.Files.createTempDirectory("lextempfull").toString
    Lexical.writeLexIndex(spark, sf, full)
    val stR = spark.read.parquet(s"$dir/stats").as[(Long, Double)].head()
    val stF = spark.read.parquet(s"$full/stats").as[(Long, Double)].head()
    assert(stR._1 == stF._1 && math.abs(stR._2 - stF._2) < 1e-9,
      s"repaired stats diverged: $stR vs $stF")
    assert(topk(Lexical.topkBm25Stored(spark, dir)) ==
      topk(Lexical.topkBm25Stored(spark, full)))
  }

  test("streamed serving: two micro-batches equal the one-batch answers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("lexstream").toString
    Lexical.writeLexIndex(spark, sf, dir)
    val batch = Lexical.bm25For(spark, dir,
        Lexical.ServeQueries.toDF("query_id", "term"))
      .as[(Long, Long, Double, Long)].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double, Long)]
    val q = graft.streaming.MicroBatch.start(
      mem.toDF().toDF("query_id", "term").writeStream) { b =>
      got ++= Lexical.bm25For(b.sparkSession, dir, b)
        .as[(Long, Long, Double, Long)].collect()
    }
    val (b1, b2) = Lexical.ServeQueries.partition(_._1 <= 2)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    assert(got.toSet == batch)
  }
}
