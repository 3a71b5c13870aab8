package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.JdbcTracking

/** The streaming pipeline tracked through the REFERENCE's store shape:
  * `FilePipeline.run` with a [[FilePipeline.JdbcTrackingStore]], so the
  * tracking upsert executes `JdbcTracking.upsertRows`' real JDBC batch
  * (Derby MERGE — the same dialect seam Postgres's
  * `ON CONFLICT DO NOTHING` rides through, `dags/dag.py:740-759`) and
  * the exactly-once key pass asks the database which of its hashes are
  * tracked (`JdbcTracking.tracked`). JdbcTrackingSpec proves the dialect in isolation;
  * this closes the loop end-to-end: drop → process → JDBC row, then a
  * renamed duplicate in a LATER drop must be rejected by the JDBC
  * store's hashes, not by a parquet side-table.
  */
class JdbcPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val url = "jdbc:derby:memory:pipetrack;create=true"
  private val (user, pass) = ("app", "")

  private def query(sql: String, cols: Int): Seq[Seq[AnyRef]] = {
    val conn = DriverManager.getConnection(url, user, pass)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[Seq[AnyRef]]
      while (rs.next()) out += (1 to cols).map(rs.getObject(_))
      out.result()
    } finally conn.close()
  }

  private lazy val init: Unit = {
    val conn = DriverManager.getConnection(url, user, pass)
    // init-scripts.sql:5-14 in Derby's spelling (as JdbcTrackingSpec)
    try conn.createStatement().executeUpdate(
      """CREATE TABLE processed_files (
           id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           file_hash VARCHAR(32) UNIQUE NOT NULL,
           file_path VARCHAR(500),
           file_size BIGINT,
           processed_at TIMESTAMP,
           status VARCHAR(20),
           output_file VARCHAR(500),
           created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    finally conn.close()
    ()
  }

  test("streaming drops track through JDBC; content-hash exactly-once holds against the JDBC store") {
    init
    val root = Files.createTempDirectory("graft-jdbc-pipe")
    def p(n: String) = root.resolve(n).toString
    val dirs = FilePipeline.Dirs(p("input"), p("output"), p("reports"),
      p("tracking-unused"), p("dead"), p("status"), p("checkpoint"))
    val store = FilePipeline.JdbcTrackingStore(url, user, pass, JdbcTracking.Derby)
    val cfg = FilePipeline.Config(chunkSize = 64, errorCorrectionSymbols = 4)

    // drop 1: one file end-to-end
    Files.createDirectories(Paths.get(dirs.input))
    Files.write(Paths.get(dirs.input, "first.txt"),
      "tracked through jdbc".getBytes(StandardCharsets.UTF_8))
    FilePipeline.run(spark, dirs, cfg, store = Some(store)).awaitTermination()

    assert(Files.exists(Paths.get(dirs.output, "processed_first.txt")))
    val row1 = query(
      "SELECT file_path, status, output_file FROM processed_files", 3)
    assert(row1.length == 1, s"expected exactly one JDBC row, got $row1")
    assert(row1.head(0).toString.endsWith("first.txt"))
    assert(row1.head(1) == "completed")
    assert(row1.head(2) == "processed_first.txt")

    // drop 2, same checkpoint: a renamed duplicate of drop 1's content
    // (new PATH, so the file source does deliver it — only the
    // membership check against the JDBC store can stop it) plus a new file
    Files.write(Paths.get(dirs.input, "dup_of_first.txt"),
      "tracked through jdbc".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(dirs.input, "second.txt"),
      "genuinely new content".getBytes(StandardCharsets.UTF_8))
    FilePipeline.run(spark, dirs, cfg, store = Some(store)).awaitTermination()

    assert(!Files.exists(Paths.get(dirs.output, "processed_dup_of_first.txt")),
      "renamed duplicate content re-processed despite the JDBC tracking row")
    assert(Files.exists(Paths.get(dirs.output, "processed_second.txt")))
    assert(JdbcTracking.processedCount(spark, url, user, pass,
      dialect = JdbcTracking.Derby) == 2)
    // content-addressing at the store: the duplicate's hash kept its
    // FIRST path (the MERGE inserted nothing for the rename)
    val paths = query(
      "SELECT file_path FROM processed_files ORDER BY file_path", 1)
      .map(_.head.toString)
    assert(paths.exists(_.endsWith("/first.txt")) &&
      paths.exists(_.endsWith("/second.txt")) &&
      !paths.exists(_.contains("dup_of_first")), paths.toString)
    // every JDBC row has its status event, drop 2's included
    import spark.implicits._
    val events = FilePipeline.currentStatus(spark, dirs.statusEvents)
      .select("status").as[String].collect()
    assert(events.toSeq == Seq("completed", "completed"), events.toSeq)
  }
}
