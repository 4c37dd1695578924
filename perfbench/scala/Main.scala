package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in a fresh JVM. `perfbench/run.py` builds the program
  * and this harness, starts this JVM and turns the raw samples it writes
  * (`--out`, JSON) into the reported metrics.
  *
  *   Main --workload sync_full|upsert_stream|analytics --seed N --seconds S
  *        --trace 0|1 --data DIR --cpus N --out FILE
  *
  * With `--trace 1` the run is the traced layer pass ([[Traced]]) instead
  * of the workload's untraced timed loop.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, cpus: Int, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("cpus").toInt, m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val res = new Result
    val spark = Env.session(args.cpus)
    res.setupOnce += (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      if (args.trace) Traced.run(spark, args, res)
      else args.workload match {
        case "sync_full" => SyncFull.run(spark, args, res)
        case "upsert_stream" => UpsertStream.run(spark, args, res)
        case "analytics" => Analytics.run(spark, args, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch { case e: Throwable =>
      res.fail(s"run aborted: $e")
      e.printStackTrace()
    } finally {
      res.heapWindowsMb = Env.heap.windowsMb
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), res.json)
      spark.stop()
    }
  }
}

/** Raw samples of one run, written as JSON for run.py. */
final class Result {
  /** Set-up parts, in the order they ran. */
  val setupOnce = mutable.ArrayBuffer.empty[Double]
  /** One entry per timed operation: (group, key, seconds, rows, ok). */
  val ops = mutable.ArrayBuffer.empty[(String, String, Double, Long, Boolean)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var loopWallS = 0.0
  /** Peak heap of each window of the timed phase, in MB. */
  var heapWindowsMb: Seq[Double] = Nil
  /** Per-layer values (traced run); a list is reduced to its median. */
  val layer = mutable.LinkedHashMap.empty[String, Any]
  /** Figures printed by name beside the metrics, in seconds. */
  val named = mutable.LinkedHashMap.empty[String, Double]

  def op(group: String, key: String, s: Double, rows: Long, ok: Boolean): Unit = {
    ops += ((group, key, s, rows, ok))
    check(ok, s"$group/$key failed")
  }

  /** Count one correctness check or operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }

  def json: String = {
    import Json._
    obj(
      "setup_once" -> setupOnce.toSeq,
      "ops" -> ops.toSeq.map { case (g, k, s, r, ok) =>
        Map("group" -> g, "key" -> k, "s" -> s, "rows" -> r, "ok" -> ok) },
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "loop_wall_s" -> loopWallS, "heap_windows_mb" -> heapWindowsMb,
      "layer" -> layer.toMap, "named" -> named.toMap)
  }
}

object Json {
  def obj(kv: (String, Any)*): String = write(kv.toMap)
  def write(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Env {
  def session(cpus: Int): SparkSession = {
    val spark = graft.GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .appName("perfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.GraftDerbyDialect.ensureRegistered()
    spark
  }

  /** Drop cached and persisted data between timed operations, outside the
    * timers, and collect garbage, so one operation cannot slow the next. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak heap left after any collection: what the driver keeps alive
    * (collected rows, driver-side arrays), not garbage awaiting collection.
    * Taken per window (one operation, or one `analytics` pass), so that
    * the run reports a median: the peak over a whole run is the largest of
    * dozens of collections, and in two `analytics` runs of ten it read 1.4
    * to 1.8 times the usual figure. */
  object heap {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import scala.jdk.CollectionConverters._
    @volatile private var peak = 0L
    @volatile private var armed = false
    private val windows = mutable.ArrayBuffer.empty[Double]
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
      }, null, null)
      case _ => ()
    }

    private def usedMb: Double = {
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { (if (peak > 0) peak else used).toDouble / (1 << 20) }
    }

    /** Track the timed phase only: from `arm` to `stop`. */
    def arm(): Unit = { peak = 0L; windows.clear(); armed = true }
    def stop(): Unit = armed = false
    /** End a window: its peak, or the heap in use when no collection ran. */
    def window(): Unit = { windows += usedMb; synchronized { peak = 0L } }
    def windowsMb: Seq[Double] = {
      stop()
      if (windows.nonEmpty) windows.toSeq else Seq(usedMb)
    }
  }
}
