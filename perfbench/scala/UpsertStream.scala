package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.sources.{DerbyDialect, SyncConf, TableSync}
import graft.streaming.JdbcIncremental

/** `upsert_stream`: a closed loop with one caller. Each turn the seeded
  * generator appends one batch of change rows to the `ORDERS` change log
  * in the source (monotone `SEQ` watermark), then one
  * `JdbcIncremental.syncIncrement` call polls the batch and applies it to
  * the target as keyed DELETE+INSERT upserts; the next batch is generated
  * only after that call returns.
  *
  * The target is built by `TableSync.sync` from the log's first 150k
  * rows (sf0.1 orders) and is measured exactly as the sync leaves it: no
  * key and no index, so every keyed DELETE scans the whole table. That
  * cost is what this workload is for and must not be worked around. */
object UpsertStream {
  val Sf = "sf0.1"
  val Table = "ORDERS"
  val Key = "O_ORDERKEY"
  val Seq_ = "SEQ"
  /** Batch shape, 24 rows: new keys, updated keys, repeated versions. */
  val NewKeys = 12
  val Updates = 8
  val Repeats = 4
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Source log `db` with the initial orders (SEQ = 1..n by key), and a
    * target copy made by `TableSync.sync`. Returns the expected target
    * state: key -> row (column order of the log). */
  def setup(spark: SparkSession, args: Main.Args, src: String, tgt: String,
            conf: SyncConf): mutable.HashMap[Long, IndexedSeq[AnyRef]] = {
    Derby.drop(src); Derby.drop(tgt)
    Derby.load(spark, s"${args.data}/$Sf", src, "orders", Seq(Seq_),
      df => df.withColumn(Seq_, row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(Key)).cast("long")))
    val r = TableSync.sync(spark, conf, Table, DerbyDialect)
    require(r.countInvariantHolds, s"initial sync: $r")
    val state = mutable.HashMap.empty[Long, IndexedSeq[AnyRef]]
    Derby.foreachRow(src, Table)(row => state(row(0).asInstanceOf[Long]) = row)
    state
  }

  /** The seeded change generator. Every batch has the same shape, so
    * every batch does the same amount of work: `NewKeys` inserts of new
    * keys, `Updates` updates of distinct existing keys drawn with skew
    * (hot keys come back batch after batch), and `Repeats` further
    * versions of keys already in the batch, which the `orderCol` dedup
    * must resolve to the greatest `SEQ`. Rows are shuffled before their
    * `SEQ` is assigned. */
  final class Generator(seed: Long, state: mutable.HashMap[Long, IndexedSeq[AnyRef]]) {
    private val rnd = new scala.util.Random(seed)
    private val keys = rnd.shuffle(state.keys.toVector.sorted)
    private var nextKey = state.keys.max + 1
    var nextSeq: Long = state.values.map(_(6).asInstanceOf[Long]).max + 1

    private def skewed(): Long = keys((keys.size * math.pow(rnd.nextDouble(), 6)).toInt)

    /** One batch of change rows, each (O_ORDERKEY .. O_ORDERPRIORITY, SEQ). */
    def batch(): IndexedSeq[IndexedSeq[AnyRef]] = {
      val fresh = (0 until NewKeys).map(i => nextKey + i)
      nextKey += NewKeys
      val updated = mutable.LinkedHashSet.empty[Long]
      while (updated.size < Updates) updated += skewed()
      val distinct = fresh ++ updated
      val all = distinct ++ (1 to Repeats).map(_ => distinct(rnd.nextInt(distinct.size)))
      rnd.shuffle(all).map { key =>
        val row = IndexedSeq[AnyRef](
          Long.box(key), Long.box(1 + rnd.nextInt(15000)),
          Statuses(rnd.nextInt(3)),
          Double.box(math.round(rnd.nextDouble() * 50000000) / 100.0),
          Timestamp.valueOf(f"199${2 + rnd.nextInt(7)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d 00:00:00"),
          Priorities(rnd.nextInt(5)),
          Long.box(nextSeq))
        nextSeq += 1
        row
      }
    }
  }

  /** Append one batch to the source log in one transaction. */
  def append(src: String, rows: Seq[IndexedSeq[AnyRef]]): Unit = Derby.withConn(src) { c =>
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?, ?, ?, ?, ?)")
    try {
      rows.foreach { r => r.indices.foreach(i => ps.setObject(i + 1, r(i))); ps.addBatch() }
      ps.executeBatch()
      c.commit()
    } finally ps.close()
  }

  /** The target equals the expected last version of every key. */
  def checkFinal(tgt: String, state: mutable.HashMap[Long, IndexedSeq[AnyRef]], res: Result): Unit = {
    val want = Digest.of(state.valuesIterator)
    val got = SyncFull.tableDigest(tgt, Table)
    res.check(got == want,
      s"final target state ${got.rows}/${got.hex}, expected ${want.rows}/${want.hex}")
  }

  def run(spark: SparkSession, args: Main.Args, res: Result): Unit = {
    val c = Derby.syncConf("up_src", "up_tgt", args.cpus)
    val (state, t) = Env.time(setup(spark, args, "up_src", "up_tgt", c))
    res.setupOnce += t
    Env.reset(spark)
    val gen = new Generator(args.seed, state)
    var mark = gen.nextSeq - 1
    def turn(): (Double, Int, Boolean) = {
      val b = gen.batch()
      append("up_src", b)
      val (m, s) = Env.time(JdbcIncremental.syncIncrement(spark, c, Table, Seq_,
        Seq(Key), mark, DerbyDialect))
      val ok = m == gen.nextSeq - 1
      mark = m
      b.foreach(r => state(r(0).asInstanceOf[Long]) = r)
      (s, b.map(_(0)).distinct.size, ok)
    }
    // three warm-up batches (JIT of the scan-heavy DELETE path, statement
    // caches; after one, the first timed batch still ran about 10% slow)
    for (_ <- 1 to 3) {
      val (w, _, _) = turn()
      res.setupOnce += w
      Env.reset(spark)
    }

    Env.heap.arm()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < args.seconds) {
      try {
        val (s, applied, ok) = turn()
        res.op("upsert", "batch", s, applied, ok)
      } catch { case e: Exception => res.check(false, s"batch: $e") }
      Env.heap.window()
      Env.reset(spark)
    }
    res.loopWallS = elapsed
    Env.heap.stop()
    checkFinal("up_tgt", state, res)
  }
}
