package graftbench

import org.apache.spark.sql.SparkSession
import graft.sources.{DerbyDialect, SyncConf, TableSync}

/** `sync_full`: whole-database replication with `TableSync.syncAll` and
  * the default `SyncConf`, from a Derby source holding the nine
  * Derby-storable sf tables into an empty Derby target. */
object SyncFull {
  val Sf = "sf0.01"
  val Tables: Seq[String] = Derby.keys.map(_._1.toUpperCase)

  /** Fresh source database `db` with every table loaded. Returns rows. */
  def loadSource(spark: SparkSession, args: Main.Args, db: String): Long = {
    Derby.drop(db)
    Derby.parallel(Derby.keys, args.cpus) { case (t, k) =>
      Derby.load(spark, s"${args.data}/$Sf", db, t, k)
    }.sum
  }

  /** One whole-database sync; ok when every table is there and its count
    * invariant holds. */
  def syncOnce(spark: SparkSession, c: SyncConf, sourceRows: Long): Boolean = {
    val rs = TableSync.syncAll(spark, c, DerbyDialect)
    rs.map(_.table).sorted == Tables.sorted &&
      rs.forall(_.countInvariantHolds) && rs.map(_.targetRows).sum == sourceRows
  }

  /** Order-insensitive digest of every table, source against target. */
  def checkContents(src: String, tgt: String, res: Result): Unit =
    Tables.foreach { t =>
      val (a, b) = (tableDigest(src, t), tableDigest(tgt, t))
      res.check(a == b, s"$t content digest source=${a.rows}/${a.hex} target=${b.rows}/${b.hex}")
    }

  def tableDigest(db: String, table: String): Digest = {
    var d = Digest.empty
    Derby.foreachRow(db, table)(row => d += row)
    d
  }

  def run(spark: SparkSession, args: Main.Args, res: Result): Unit = {
    val (rows, load) = Env.time(loadSource(spark, args, "sync_src"))
    res.setupOnce += load
    Env.reset(spark)
    val c = Derby.syncConf("sync_src", "sync_tgt", args.cpus)
    // three warm-up syncs: JIT, JDBC metadata caches and target DDL paths
    // (after two, the first timed syncs still ran 10-20% slow)
    for (_ <- 1 to 3) {
      val (_, w) = Env.time(syncOnce(spark, c, rows))
      res.setupOnce += w
      Env.reset(spark)
    }

    Env.heap.arm()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < args.seconds) {
      val (ok, s) = Env.time(syncOnce(spark, c, rows))
      res.op("sync", "syncAll", s, rows, ok)
      Env.heap.window()
      Env.reset(spark)
    }
    res.loopWallS = elapsed
    Env.heap.stop()
    checkContents("sync_src", "sync_tgt", res)
  }
}
