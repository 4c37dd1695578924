package graftbench

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.SyncConf

/** Embedded in-memory Derby databases loaded from the parquet test data. */
object Derby {

  /** The sf tables Derby can hold, with their natural keys. `embeddings`
    * is left out: its FLOAT[] column has no Derby type. */
  val keys: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "supplier" -> Seq("s_suppkey"), "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    // (l_orderkey, l_linenumber) repeats in this synthetic data; with the
    // part and supplier keys it is unique
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"))

  def url(name: String): String = s"jdbc:derby:memory:$name;create=true"

  def drop(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006

  def withConn[A](name: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url(name))
    try f(c) finally c.close()
  }

  def exec(name: String, sql: String*): Unit = withConn(name) { c =>
    val st = c.createStatement()
    try sql.foreach(st.execute) finally st.close()
  }

  /** The single number a `SELECT COUNT(*) ...` returns, over plain JDBC. */
  def count(name: String, sql: String): Long = withConn(name) { c =>
    val rs = c.createStatement().executeQuery(sql)
    try { rs.next(); rs.getLong(1) } finally rs.close()
  }

  /** Every row of `table` over plain JDBC (not through the program). */
  def foreachRow(name: String, table: String)(f: IndexedSeq[AnyRef] => Unit): Unit =
    withConn(name) { c =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      try {
        val n = rs.getMetaData.getColumnCount
        while (rs.next()) f((1 to n).map(rs.getObject))
      } finally rs.close()
    }

  /** Sync settings from database `src` to `tgt`: the `SyncConf` defaults,
    * with table parallelism capped so task slots and JDBC connections stay
    * within `cpus`. */
  def syncConf(src: String, tgt: String, cpus: Int): SyncConf = {
    val d = SyncConf(url(src), url(tgt), "APP")
    d.copy(tableParallelism = math.min(d.tableParallelism, cpus))
  }

  /** A parquet table with Derby-storable column types. */
  private def frame(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = graft.Tables(spark, sfDir, table)
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }: _*)
  }

  /** Create `table` in database `db` with its natural primary key and
    * load it from parquet over plain JDBC, in one batched transaction on
    * one connection (parallel loaders into one table contend, and loaded
    * sf0.1 orders slower on 4 cores than one loader).
    * `transform` may add columns first. Returns rows. */
  def load(spark: SparkSession, sfDir: String, db: String, table: String,
           keyCols: Seq[String], transform: DataFrame => DataFrame = identity): Long = {
    val df = transform(frame(spark, sfDir, table))
    val rows = df.collect()
    val fields = df.schema.fields
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val t = f.dataType match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE"
        case TimestampType => "TIMESTAMP"
        case DateType => "DATE"
        case StringType =>
          val n = rows.iterator.map(r => if (r.isNullAt(i)) 1 else r.getString(i).length).maxOption
          s"VARCHAR(${math.min(32672, math.max(1, n.getOrElse(1)))})"
        case other => throw new IllegalArgumentException(s"$table.${f.name}: $other")
      }
      s"${f.name} $t" + (if (keyCols.exists(_.equalsIgnoreCase(f.name))) " NOT NULL" else "")
    }
    val name = table.toUpperCase
    exec(db, s"CREATE TABLE $name (${cols.mkString(", ")}, " +
      s"PRIMARY KEY (${keyCols.map(_.toUpperCase).mkString(", ")}))")
    val insert = s"INSERT INTO $name VALUES (${fields.map(_ => "?").mkString(", ")})"
    withConn(db) { c =>
      c.setAutoCommit(false)
      val ps = c.prepareStatement(insert)
      try {
        rows.iterator.zipWithIndex.foreach { case (r, n) =>
          fields.indices.foreach(i => ps.setObject(i + 1, r.get(i).asInstanceOf[AnyRef]))
          ps.addBatch()
          if (n % 5000 == 4999) ps.executeBatch()
        }
        ps.executeBatch()
        c.commit()
      } finally ps.close()
    }
    rows.length.toLong
  }

  /** Apply `f` to every item on up to `threads` threads; rethrows. */
  def parallel[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try items.map(a => pool.submit(() => f(a))).map(_.get())
    finally pool.shutdown()
  }
}
