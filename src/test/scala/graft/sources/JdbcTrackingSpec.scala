package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Runtime verification of the JDBC tracking path (S5/S9/S11) against
  * a real database — the in-memory Derby that ships in Spark's jars —
  * covering the semantics the reference executes against Postgres:
  * idempotent upsert (`dags/dag.py:740-759`, `ON CONFLICT DO NOTHING`),
  * status update with processed_at stamp (`dags/dag.py:320-345`),
  * table-exists probe (`dags/dag.py:364-369`) and the count/filter
  * reads (`dags/dag.py:364-384`). The table DDL mirrors
  * `init-scripts.sql:5-14` in Derby's spelling.
  */
class JdbcTrackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val url = "jdbc:derby:memory:tracking;create=true"
  private val (user, pass) = ("app", "")

  private def withStmt[A](f: java.sql.Statement => A): A = {
    val conn = DriverManager.getConnection(url, user, pass)
    try f(conn.createStatement()) finally conn.close()
  }

  /** Run a query and materialize the requested columns before the
    * connection closes (Derby result sets die with the connection).
    */
  private def query(sql: String, cols: Int): Seq[Seq[AnyRef]] = withStmt { st =>
    val rs = st.executeQuery(sql)
    val out = Seq.newBuilder[Seq[AnyRef]]
    while (rs.next()) out += (1 to cols).map(rs.getObject(_))
    out.result()
  }

  private lazy val init: Unit = withStmt { st =>
    // init-scripts.sql:5-14 translated: SERIAL -> IDENTITY,
    // DEFAULT CURRENT_TIMESTAMP kept
    st.executeUpdate(
      """CREATE TABLE processed_files (
           id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           file_hash VARCHAR(32) UNIQUE NOT NULL,
           file_path VARCHAR(500),
           file_size BIGINT,
           processed_at TIMESTAMP,
           status VARCHAR(20),
           output_file VARCHAR(500),
           created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    ()
  }

  private def batch(rows: (String, String, Long, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("file_hash", "file_path", "file_size", "status", "output_file")
  }

  test("table-exists probe sees the tracking table") {
    init
    assert(JdbcTracking.tableExists(url, user, pass))
    assert(!JdbcTracking.tableExists(url, user, pass, table = "no_such_table"))
  }

  test("upsert is idempotent: replaying a batch inserts nothing new") {
    init
    val b = batch(
      ("h1", "/in/a.txt", 10L, "completed", "/out/processed_a.txt"),
      ("h2", "/in/b.txt", 20L, "completed", null))
    JdbcTracking.upsert(b, url, user, pass, JdbcTracking.Derby)
    assert(JdbcTracking.processedCount(spark, url, user, pass,
      dialect = JdbcTracking.Derby) == 2)
    // replay the whole batch — the reference's ON CONFLICT DO NOTHING
    JdbcTracking.upsert(b, url, user, pass, JdbcTracking.Derby)
    assert(JdbcTracking.processedCount(spark, url, user, pass,
      dialect = JdbcTracking.Derby) == 2)
    // overlapping batch: only the genuinely new hash lands
    JdbcTracking.upsert(batch(
      ("h2", "/in/b_renamed.txt", 20L, "completed", null),
      ("h3", "/in/c.txt", 30L, "completed", null)), url, user, pass,
      JdbcTracking.Derby)
    assert(JdbcTracking.processedCount(spark, url, user, pass,
      dialect = JdbcTracking.Derby) == 3)
    // content-addressing: h2 kept its first path (rename not re-inserted)
    val path = query(
      "SELECT file_path FROM processed_files WHERE file_hash = 'h2'", 1)
    assert(path == Seq(Seq("/in/b.txt")))
  }

  test("membership asks about a batch's hashes only, across IN chunks") {
    import org.apache.spark.sql.Row
    init
    // 2 500 hashes, more than one IN chunk; every other one tracked
    val hashes = (0 until 2500).map(i => f"m$i%031d")
    val tracked = hashes.indices.filter(_ % 2 == 0).map(hashes)
    JdbcTracking.upsertRows(tracked.map(h => Row(h, s"/in/$h.txt", 1L, "completed", null)),
      url, user, pass, JdbcTracking.Derby)
    assert(JdbcTracking.tracked(url, user, pass, hashes.toSet) == tracked.toSet)
    assert(JdbcTracking.tracked(url, user, pass, Set("m-untracked")).isEmpty)
    assert(JdbcTracking.tracked(url, user, pass, Set.empty).isEmpty)
  }

  test("per-hash count read pushes the predicate and counts 1") {
    init
    JdbcTracking.upsert(batch(("h9", "/in/z.txt", 5L, "completed", null)),
      url, user, pass, JdbcTracking.Derby)
    assert(JdbcTracking.processedCount(spark, url, user, pass,
      fileHash = Some("h9"), dialect = JdbcTracking.Derby) == 1)
    assert(JdbcTracking.processedCount(spark, url, user, pass,
      fileHash = Some("absent"), dialect = JdbcTracking.Derby) == 0)
  }

  test("Postgres dialect emits the reference's exact statement and bind order") {
    // no Postgres in the container: pin the statement TEXT and the
    // parameter order against the reference (dags/dag.py:740-759) —
    // the dialect seam itself is executed for real via Derby above
    // processed_at is the reference's column DEFAULT (init-scripts
    // .sql:10) materialized into the INSERT — same row, engine-portable
    val norm = JdbcTracking.Postgres.upsertSql(JdbcTracking.Table)
      .split("\\s+").filter(_.nonEmpty).mkString(" ")
    assert(norm ==
      "INSERT INTO processed_files (file_hash, file_path, file_size, status, output_file, processed_at) " +
        "VALUES (?, ?, ?, ?, ?, CURRENT_TIMESTAMP) ON CONFLICT (file_hash) DO NOTHING")

    val calls = scala.collection.mutable.Buffer.empty[(Int, Any)]
    val ps = java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[java.sql.PreparedStatement]),
      (_, method, args) => {
        if (method.getName.startsWith("set") && args != null && args.length >= 2)
          calls += ((args(0).asInstanceOf[Int], args(1)))
        null
      }).asInstanceOf[java.sql.PreparedStatement]
    JdbcTracking.Postgres.bindUpsert(ps,
      org.apache.spark.sql.Row("HASH", "/in/f.txt", 123L, "completed", "processed_f.txt"))
    // bind order = the reference's parameters list: hash, path, size,
    // status, output_file
    assert(calls.sortBy(_._1).map(_._2).toSeq ==
      Seq("HASH", "/in/f.txt", 123L, "completed", "processed_f.txt"))
    // a null output_file binds as SQL NULL, not the string "null"
    calls.clear()
    JdbcTracking.Postgres.bindUpsert(ps,
      org.apache.spark.sql.Row("HASH2", "/in/g.txt", 5L, "failed", null))
    assert(calls.sortBy(_._1).map(_._2).toSeq ==
      Seq("HASH2", "/in/g.txt", 5L, "failed", null))
  }

  test("status update stamps processed_at and changes only the targeted hash") {
    init
    JdbcTracking.upsert(batch(
      ("h10", "/in/p.txt", 1L, "processing", null),
      ("h11", "/in/q.txt", 2L, "processing", null)), url, user, pass,
      JdbcTracking.Derby)
    JdbcTracking.updateStatus(batch(("h10", "/x", 0L, "failed", null)),
      url, user, pass, JdbcTracking.Derby)
    val rows = query(
      """SELECT file_hash, status, processed_at FROM processed_files
         WHERE file_hash IN ('h10','h11') ORDER BY file_hash""", 3)
    assert(rows.length == 2)
    assert(rows(0)(1) == "failed" && rows(0)(2) != null)
    // the untargeted row keeps its status; processed_at was stamped at
    // insert (the reference's column DEFAULT, init-scripts.sql:10)
    assert(rows(1)(1) == "processing" && rows(1)(2) != null)
  }

  test("concurrent single-row partitions cannot lose an insert") {
    // The round-8 full-suite flake: embedded Derby's MERGE races its
    // compiled-plan cache under concurrent connections and either NPEs
    // or silently drops an insert. Force the worst shape — many
    // simultaneous single-row transactions — deterministically, which
    // Derby.serializeWrites must survive.
    init
    for (i <- 0 until 10) {
      val rows = (0 until 8).map(t =>
        (s"c${i}_$t", s"/in/c$i/$t.txt", 1L, "completed", null))
      JdbcTracking.upsert(batch(rows: _*).repartition(8),
        url, user, pass, JdbcTracking.Derby)
      val n = query(
        s"SELECT COUNT(*) FROM processed_files WHERE file_hash LIKE 'c${i}_%'", 1)
      assert(n == Seq(Seq(8)), s"iteration $i lost an insert")
    }
  }
}
