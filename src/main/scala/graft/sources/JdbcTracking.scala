package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC parity for the reference's Postgres tracking table
  * (`init-scripts.sql:5-14`, probes `dags/dag.py:364-384`, upsert
  * `dags/dag.py:740-759`, status update `dags/dag.py:320-345`).
  *
  * The default deployment uses the parquet tracking table
  * (`FilePipeline`); this module exists for drop-in parity when the
  * tracking store must be the reference's own Postgres. The SQL that
  * differs across engines (idempotent insert; the reference's
  * `ON CONFLICT (file_hash) DO NOTHING` is Postgres-only) lives behind
  * [[SqlDialect]]: Postgres keeps the reference's exact statement,
  * Derby uses the standard `MERGE`, which lets the whole path run for
  * real against the in-memory Derby that ships with Spark
  * (JdbcTrackingSpec). Relation reads go through `spark.read.jdbc`
  * (predicate pushdown to the indexed columns); a DataFrame's writes are
  * per-partition JDBC batches, executed executor-side so a
  * 1000-executor cluster doesn't funnel inserts through the driver. A
  * pipeline batch's membership probe ([[tracked]]) and its few tracking
  * rows ([[upsertRows]]) go over one driver-side connection each.
  */
object JdbcTracking {

  val Table = "processed_files"

  /** Engine-specific SQL: insert-if-absent keyed on file_hash. Each
    * dialect owns its statement text and its parameter binding for one
    * (file_hash, file_path, file_size, status, output_file) row.
    */
  sealed trait SqlDialect extends Serializable {
    def driver: String
    def upsertSql(table: String): String
    def bindUpsert(st: java.sql.PreparedStatement,
        r: org.apache.spark.sql.Row): Unit
    /** True when the engine cannot run this dialect's write statements
      * from concurrent connections. Writers then serialize through a
      * JVM-wide lock — sufficient exactly for the one engine that needs
      * it (embedded Derby lives inside this JVM by definition).
      */
    def serializeWrites: Boolean = false
    protected final def outputFile(r: org.apache.spark.sql.Row): String =
      if (r.isNullAt(4)) null else r.getString(4)
  }

  /** The reference's engine: `ON CONFLICT (file_hash) DO NOTHING`
    * (`dags/dag.py:743`). `processed_at` is stamped explicitly — the
    * reference gets the same stamp from the column DEFAULT
    * (`init-scripts.sql:10`); materializing it in the INSERT keeps the
    * row identical on engines whose test DDL lacks the default.
    * Postgres's ON CONFLICT is safe under concurrent connections, so
    * writes stay parallel per-partition.
    */
  case object Postgres extends SqlDialect {
    val driver = "org.postgresql.Driver"
    def upsertSql(table: String): String =
      s"""INSERT INTO $table (file_hash, file_path, file_size, status, output_file, processed_at)
          VALUES (?, ?, ?, ?, ?, CURRENT_TIMESTAMP) ON CONFLICT (file_hash) DO NOTHING"""
    def bindUpsert(st: java.sql.PreparedStatement,
        r: org.apache.spark.sql.Row): Unit = {
      st.setString(1, r.getString(0))
      st.setString(2, r.getString(1))
      st.setLong(3, r.getLong(2))
      st.setString(4, r.getString(3))
      st.setString(5, outputFile(r))
    }
  }

  /** Standard-SQL `MERGE` form, runnable on the Derby that ships in
    * Spark's jars — the dialect the integration spec executes for real.
    * Two Derby quirks: the ON-clause parameter needs an explicit CAST
    * (untyped ? in MERGE search conditions fails type resolution), and
    * `created_at`/`processed_at` are stamped explicitly because Derby's
    * MERGE NPE-crashes compiling an omitted column whose DEFAULT is the
    * non-constant CURRENT_TIMESTAMP (verified against the 10.16 jars).
    *
    * `serializeWrites = true`: embedded Derby's MERGE is NOT safe under
    * concurrent connections — its shared compiled-plan cache races and
    * either NPEs (`_actionRS is null`, reproduced deterministically by
    * stress-driving [[upsert]] from 32 local threads) or, worse,
    * silently drops an insert (the round-8 full-suite flake). A JVM
    * lock fully serializes it because embedded Derby only ever lives in
    * this JVM.
    */
  case object Derby extends SqlDialect {
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    override def serializeWrites: Boolean = true
    def upsertSql(table: String): String =
      s"""MERGE INTO $table t
          USING SYSIBM.SYSDUMMY1 ON t.file_hash = CAST(? AS VARCHAR(32))
          WHEN NOT MATCHED THEN INSERT
            (file_hash, file_path, file_size, status, output_file, processed_at, created_at)
            VALUES (?, ?, ?, ?, ?, CURRENT_TIMESTAMP, CURRENT_TIMESTAMP)"""
    def bindUpsert(st: java.sql.PreparedStatement,
        r: org.apache.spark.sql.Row): Unit = {
      st.setString(1, r.getString(0)) // MERGE match key
      st.setString(2, r.getString(0))
      st.setString(3, r.getString(1))
      st.setLong(4, r.getLong(2))
      st.setString(5, r.getString(3))
      st.setString(6, outputFile(r))
    }
  }

  private def props(user: String, password: String, dialect: SqlDialect): Properties = {
    val p = new Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p.setProperty("driver", dialect.driver)
    p
  }

  /** S5: the tracking relation; Catalyst pushes `file_hash = x`
    * predicates down to the B-tree-indexed column.
    */
  def read(spark: SparkSession, url: String, user: String, password: String,
      dialect: SqlDialect = Postgres): DataFrame =
    spark.read.jdbc(url, Table, props(user, password, dialect))

  /** S5: `SELECT COUNT(*) FROM processed_files [WHERE file_hash=?]`
    * (`dags/dag.py:364-384`) — pushdown-friendly form.
    */
  def processedCount(spark: SparkSession, url: String, user: String,
      password: String, fileHash: Option[String] = None,
      dialect: SqlDialect = Postgres): Long = {
    val df = read(spark, url, user, password, dialect)
    fileHash.fold(df)(h => df.filter(df("file_hash") === h)).count()
  }

  /** The reference's `information_schema` table-exists probe
    * (`dags/dag.py:364-369`), against the standard
    * `information_schema.tables` view (Postgres) or Derby's SYS
    * catalog.
    */
  def tableExists(url: String, user: String, password: String,
      table: String = Table): Boolean = {
    val conn = DriverManager.getConnection(url, user, password)
    try {
      // JDBC metadata is the engine-portable form of the probe
      val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      var found = false
      while (rs.next() && !found)
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally conn.close()
  }

  /** Writers whose dialect sets `serializeWrites` take this JVM-wide
    * monitor around each transaction (embedded-Derby MERGE plan-cache
    * race; see [[Derby]]).
    */
  private object EmbeddedWriteLock

  /** How many times a partition's write transaction is attempted.
    * Every statement routed through here is idempotent (insert-if-
    * absent keyed on file_hash; targeted UPDATE), so replaying a
    * rolled-back batch after a transient failure (lock timeout,
    * deadlock victim, serialization conflict) is safe and converges.
    */
  private val MaxWriteAttempts = 3

  /** One attempted transaction: connect, run `work`, commit; rollback
    * on failure. Retries [[MaxWriteAttempts]] times on SQLException
    * with linear backoff, serializing through [[EmbeddedWriteLock]]
    * when the dialect requires it.
    */
  private def writeTransaction(url: String, user: String, password: String,
      dialect: SqlDialect)(work: java.sql.Connection => Unit): Unit = {
    def attempt(): Unit = {
      val conn = DriverManager.getConnection(url, user, password)
      try {
        conn.setAutoCommit(false)
        try {
          work(conn)
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            throw e
        }
      } finally conn.close()
    }
    var tries = 0
    var done = false
    while (!done) {
      tries += 1
      try {
        if (dialect.serializeWrites) EmbeddedWriteLock.synchronized(attempt())
        else attempt()
        done = true
      } catch {
        case _: java.sql.SQLException if tries < MaxWriteAttempts =>
          Thread.sleep(50L * tries)
      }
    }
  }

  /** S9: idempotent executor-side upsert of (file_hash, file_path,
    * file_size, status, output_file) rows — insert-if-absent on
    * file_hash keeps content-addressed exactly-once
    * (`dags/dag.py:740-759`). Each partition is one [[upsertRows]].
    */
  def upsert(batch: DataFrame, url: String, user: String, password: String,
      dialect: SqlDialect = Postgres): Unit =
    batch.select("file_hash", "file_path", "file_size", "status", "output_file")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        // materialize so a retried transaction can replay the batch
        upsertRows(rows.toList, url, user, password, dialect)
      }

  /** [[upsert]] of rows already in hand, in that column order: one
    * insert-if-absent transaction from the calling JVM.
    */
  def upsertRows(rows: Seq[org.apache.spark.sql.Row], url: String, user: String,
      password: String, dialect: SqlDialect = Postgres): Unit =
    if (rows.nonEmpty) {
      val sql = dialect.upsertSql(Table)
      writeTransaction(url, user, password, dialect) { conn =>
        val st = conn.prepareStatement(sql)
        rows.foreach { r =>
          dialect.bindUpsert(st, r)
          st.addBatch()
        }
        st.executeBatch()
      }
    }

  /** Hashes bound into one [[tracked]] statement: a long `IN` list is
    * slow to compile, and some engines cap it (Oracle at 1000).
    */
  private val InChunk = 1000

  /** S5/T2: the subset of `hashes` the table holds, asked of the
    * database alone (`SELECT file_hash ... WHERE file_hash IN (?, …)`,
    * [[InChunk]] hashes a statement) over one driver-side connection.
    */
  def tracked(url: String, user: String, password: String,
      hashes: Set[String]): Set[String] = {
    val conn = DriverManager.getConnection(url, user, password)
    try hashes.toSeq.grouped(InChunk).flatMap { chunk =>
      val st = conn.prepareStatement(
        s"SELECT file_hash FROM $Table WHERE file_hash IN (${chunk.map(_ => "?").mkString(", ")})")
      try {
        chunk.zipWithIndex.foreach { case (h, i) => st.setString(i + 1, h) }
        val rs = st.executeQuery()
        Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      } finally st.close()
    }.toSet
    finally conn.close()
  }

  /** S11: `UPDATE ... SET status=?, processed_at=CURRENT_TIMESTAMP
    * WHERE file_hash=?` (`dags/dag.py:320-345`; CURRENT_TIMESTAMP is
    * the standard spelling of the reference's NOW()).
    */
  def updateStatus(batch: DataFrame, url: String, user: String, password: String,
      dialect: SqlDialect = Postgres): Unit =
    batch.select("file_hash", "status")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.nonEmpty) {
          val buf = rows.toArray
          writeTransaction(url, user, password, dialect) { conn =>
            val st = conn.prepareStatement(
              s"UPDATE $Table SET status = ?, processed_at = CURRENT_TIMESTAMP WHERE file_hash = ?")
            buf.foreach { r =>
              st.setString(1, r.getString(1))
              st.setString(2, r.getString(0))
              st.addBatch()
            }
            st.executeBatch()
          }
        }
      }
}
