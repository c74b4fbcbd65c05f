package graft

import graft.sources.JdbcSource
import graft.sources.JdbcSource.JdbcConfig
import graft.sources.Tables.{Id, Idx, IsDeleted, UpdatedAt}
import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
import org.scalatest.funsuite.AnyFunSuite

/** S3 — JDBC source assembly: no live database in the harness, so the
  * contract under test is the option map the reader is built from
  * (fetchsize batching, partitioned range scan on the watermark column). */
class JdbcSourceSpec extends AnyFunSuite with SparkSpec {

  private val cfg = JdbcConfig(
    url = "jdbc:postgresql://db.example.test:5432/graph",
    table = "graph.index_documents",
    user = "reader", password = "secret",
    lowerBound = Some("2024-01-01 00:00:00"),
    upperBound = Some("2024-02-01 00:00:00"))

  test("options carry the reference's cursor batching as fetchsize") {
    val o = JdbcSource.options(cfg)
    assert(o("fetchsize") == "1000") // db_batch_size default
    assert(o("dbtable") == "graph.index_documents")
    assert(o("driver") == "org.postgresql.Driver")
  }

  test("bounded configs produce a partitioned range scan on updated_at") {
    val o = JdbcSource.options(cfg)
    assert(o("partitionColumn") == "updated_at")
    assert(o("numPartitions") == "8")
    assert(o("lowerBound") == "2024-01-01 00:00:00")
    assert(o("upperBound") == "2024-02-01 00:00:00")
  }

  test("unbounded configs fall back to a single-cursor read (no partition opts)") {
    val o = JdbcSource.options(cfg.copy(lowerBound = None, upperBound = None))
    assert(!o.contains("partitionColumn") && !o.contains("numPartitions"))
    assert(o("fetchsize") == "1000")
  }

  test("reader assembles without a live endpoint") {
    JdbcSource.reader(spark, cfg) // no load(): just the builder path
  }

  test("end-to-end: partitioned fetchsize read + remote pushdown against embedded Derby") {
    // the sandbox has no Postgres, but Derby (on Spark's classpath) runs
    // embedded — so the READ PATH itself executes: real connections, real
    // fetchsize, real per-partition range queries, real remote WHERE
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby")
      .resolve("db").toString
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE index_documents (
          |  id BIGINT NOT NULL PRIMARY KEY,
          |  idx VARCHAR(32),
          |  document VARCHAR(256),
          |  updated_at TIMESTAMP)""".stripMargin)
      val ps = conn.prepareStatement("INSERT INTO index_documents VALUES (?,?,?,?)")
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      (0 until 120).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setString(2, if (i % 3 == 0) "click" else "view")
        ps.setString(3, s"""{"k":$i}""")
        ps.setTimestamp(4, new java.sql.Timestamp(t0.getTime + i * 60000L))
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()

    val derbyCfg = JdbcConfig(
      url = url, table = "index_documents",
      user = "app", password = "app", // Derby without auth: user fixes the schema
      fetchSize = 50,
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      partitionColumn = Some("updated_at"),
      numPartitions = 4,
      lowerBound = Some("2024-01-01 00:00:00"),
      upperBound = Some("2024-01-01 02:00:00"),
      sessionInit = None) // Derby has no SET TRANSACTION READ ONLY
    val df = JdbcSource.envelope(spark, derbyCfg)
    // the range scan really split into numPartitions parallel cursors
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 120L)
    assert(df.columns.map(_.toLowerCase).toSeq ===
      Seq("id", "idx", "document", "updated_at"))
    // predicate + projection push into the remote query (Catalyst JDBC
    // pushdown — the reference's hand-composed WHERE, for free)
    val clicks = df.where(org.apache.spark.sql.functions.col("idx") === "click")
      .select("id")
    assert(clicks.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(clicks.count() === 40L)
    // watermark range predicate (the S2 incremental shape) over JDBC
    val late = df.where(org.apache.spark.sql.functions.col("updated_at") >=
      java.sql.Timestamp.valueOf("2024-01-01 01:00:00"))
    assert(late.count() === 60L)
  }

  test("tolerant write-back quarantines constraint-violating rows, batch survives") {
    // the reference's streaming_bulk write side (raise_on_error=False,
    // flows/main_flow.py:413-422) executed over JDBC: a staged frame with
    // poison rows (PK collisions) lands in Derby with the poison routed
    // to the reject table — the batch never fails
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_w")
      .resolve("db").toString
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE index_documents (
          |  id BIGINT NOT NULL PRIMARY KEY,
          |  idx VARCHAR(32),
          |  document VARCHAR(256))""".stripMargin)
      st.execute(
        """CREATE TABLE rejected_documents (
          |  id BIGINT,
          |  idx VARCHAR(32),
          |  document VARCHAR(256),
          |  graft_err VARCHAR(256))""".stripMargin)
      // one pre-published row the staged frame will collide with
      st.execute("INSERT INTO index_documents VALUES (7, 'click', '{\"k\":7}')")
    } finally conn.close()

    val cfg = JdbcConfig(
      url = url, table = "index_documents",
      user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      sessionInit = None)
    // 60 rows across 3 partitions; ids 7 and 23 are poison (7 collides
    // with the pre-published row, 23 is a WITHIN-batch duplicate pair —
    // its first copy lands, the second quarantines)
    val staged = (0L until 60L).map(i => (i, s"t$i", s"""{"k":$i}"""))
      .toDF("id", "idx", "document")
      .union(Seq((23L, "dup", "{}")).toDF("id", "idx", "document"))
      .repartition(3)
    val rejects = JdbcSource.writeTolerant(staged, cfg, "rejected_documents",
      batchSize = 16)
    assert(rejects === 2L)

    // round-trip: read back through the same JDBC source path
    val back = JdbcSource.envelope(spark, cfg.copy(partitionColumn = None))
    assert(back.count() === 60L) // 59 staged + the pre-published id=7
    assert(back.select("id").distinct().count() === 60L)
    val rej = JdbcSource.envelope(spark,
      cfg.copy(table = "rejected_documents", partitionColumn = None))
    assert(rej.count() === 2L)
    assert(rej.select("id").collect().map(_.getLong(0)).toSet === Set(7L, 23L))
    // the quarantine carries the database's own error, not a blank
    assert(rej.where(col("graft_err").isNull).count() === 0L)
  }

  test("reference program end-to-end: Derby source → full + incremental sync → tolerant JDBC write-back") {
    // the whole main_flow.py:602-762 composition with every stage
    // EXECUTED: a PG-shaped JDBC source (partitioned range scan) feeds
    // SyncPipeline's full sync; source-side updates/inserts/tombstones
    // then flow through the watermarked incremental sync; the published
    // state writes back over JDBC with a poison row quarantined
    // mid-stream — existing operators only, composed.
    import org.apache.spark.sql.functions._
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_e2e")
      .resolve("db").toString
    val url = s"jdbc:derby:$dbDir;create=true"

    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    withConn { conn =>
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE index_documents (
          |  idx VARCHAR(32),
          |  id VARCHAR(32) NOT NULL,
          |  document VARCHAR(256),
          |  is_deleted BOOLEAN,
          |  updated_at TIMESTAMP)""".stripMargin)
      // the write-back "ES" table: PK on id makes collisions DB-rejected
      st.execute(
        """CREATE TABLE es_documents (
          |  id VARCHAR(32) NOT NULL PRIMARY KEY,
          |  document VARCHAR(256))""".stripMargin)
      st.execute(
        """CREATE TABLE es_rejects (
          |  id VARCHAR(32),
          |  document VARCHAR(256),
          |  graft_err VARCHAR(256))""".stripMargin)
      val ps = conn.prepareStatement("INSERT INTO index_documents VALUES (?,?,?,?,?)")
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      (0 until 60).foreach { i =>
        ps.setString(1, if (i % 2 == 0) "click" else "view")
        ps.setString(2, i.toString)
        ps.setString(3, s"""{"k":$i}""")
        ps.setBoolean(4, false)
        ps.setTimestamp(5, new java.sql.Timestamp(t0.getTime + i * 60000L))
        ps.addBatch()
      }
      ps.executeBatch()
    }

    val srcCfg = JdbcConfig(
      url = url, table = "index_documents",
      user = "app", password = "app",
      fetchSize = 25,
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      partitionColumn = Some("updated_at"),
      numPartitions = 4,
      lowerBound = Some("2024-01-01 00:00:00"),
      upperBound = Some("2024-01-01 01:00:00"),
      sessionInit = None)
    def readSource() = JdbcSource.envelope(spark, srcCfg)
      .select(col(Idx), col(Id), col("document"), col(IsDeleted), col(UpdatedAt))

    val storeDir = java.nio.file.Files.createTempDirectory("graft_e2e_store").toString
    val store = new IndexStore(spark, storeDir)
    val wms = new WatermarkStore(storeDir)
    val pipe = new SyncPipeline(store, wms)

    // stage 1: full sync off the JDBC source (4 parallel range cursors)
    val full = pipe.fullSyncBucketed(readSource(), None, timestamp = "t1", buckets = 4)
    assert(full.map(_.index).toSet === Set("click", "view"))
    assert(store.count("click") === 30L && store.count("view") === 30L)
    assert(pipe.reconcile(readSource(), Seq("click", "view")).isEmpty)

    // stage 2: source moves on — one update, one insert, one tombstone,
    // all AFTER the persisted watermark; plus an old row that must NOT
    // re-sync (stays behind the watermark)
    withConn { conn =>
      val st = conn.createStatement()
      st.execute("UPDATE index_documents SET document = '{\"k\":0,\"v\":2}'," +
        " updated_at = TIMESTAMP('2024-01-02 00:00:00') WHERE id = '0'")
      st.execute("INSERT INTO index_documents VALUES ('click', '100'," +
        " '{\"k\":100}', false, TIMESTAMP('2024-01-02 00:05:00'))")
      st.execute("UPDATE index_documents SET is_deleted = true," +
        " updated_at = TIMESTAMP('2024-01-02 00:10:00') WHERE id = '2'")
    }
    val inc = pipe.incrementalSyncInPlace(readSource(), None, buckets = 4)
    val incClick = inc.find(_.index == "click").get
    assert(incClick.mode === "incremental")
    assert(incClick.deletes === 1L) // the tombstone
    // view saw no post-watermark changes → zero-work skip
    assert(inc.find(_.index == "view").get.mode === "skipped")
    val clickState = store.read("click").get
    assert(clickState.where(col(Id) === "100").count() === 1L) // insert
    assert(clickState.where(col(Id) === "2").count() === 0L) // tombstone
    assert(clickState.where(col(Id) === "0") // update applied
      .select("document").head().getString(0).contains("\"v\":2"))
    assert(store.count("click") === 30L) // 30 − 1 del + 1 insert

    // stage 3: publish the synced state back over JDBC; a pre-existing
    // ES row collides on the PK and must quarantine, not fail the batch
    withConn(_.createStatement()
      .execute("INSERT INTO es_documents VALUES ('4', '{\"stale\":true}')"))
    val esCfg = srcCfg.copy(table = "es_documents", partitionColumn = None)
    val rejects = JdbcSource.writeTolerant(
      clickState.select(col(Id), col("document")), esCfg, "es_rejects",
      batchSize = 8)
    assert(rejects === 1L)
    val es = JdbcSource.envelope(spark, esCfg)
    assert(es.count() === 30L) // 29 new + the stale pre-published row
    val rej = JdbcSource.envelope(spark,
      esCfg.copy(table = "es_rejects"))
    assert(rej.count() === 1L)
    assert(rej.head().getString(0) === "4")
  }
}
