package graftbench

import org.apache.spark.sql.SparkSession
import graft.sources.{DerbyDialect, TableSync}
import graft.streaming.{JdbcIncremental, StreamSync}

/** The traced run: one pass over all three layers with spans around each
  * call into the program and a SparkListener counting the jobs, tasks,
  * CPU and bytes under each span. It runs the same data and settings as
  * the untraced workloads, so each per-layer number maps onto the
  * end-to-end metric it should move:
  *
  *  - `sources.*`   -> `op_s` of `sync_full`
  *  - `streaming.*` -> `op_s` of `upsert_stream`
  *  - `operators.*` -> `op_s` of `analytics` (the iterative or scan part)
  *
  * `trace.<workload>.op_s` repeats each workload's operation under
  * tracing; its difference from the untraced `op_s` is the tracing
  * overhead. */
object Traced {
  val StreamBatches = 4

  def run(spark: SparkSession, args: Main.Args, res: Result): Unit = {
    val tr = new Trace(spark.sparkContext)
    sources(spark, args, res, tr)
    streaming(spark, args, res, tr)
    operators(spark, args, res, tr)
  }

  private def sources(spark: SparkSession, args: Main.Args, res: Result, tr: Trace): Unit = {
    val L = res.layer
    val rows = SyncFull.loadSource(spark, args, "tr_src")
    val c = Derby.syncConf("tr_src", "tr_tgt", args.cpus)
    // warm up as `sync_full` does, then three traced syncs (median)
    for (_ <- 1 to 3) { SyncFull.syncOnce(spark, c, rows); Env.reset(spark) }
    L("trace.sync_full.op_s") = (1 to 3).map { _ =>
      val (ok, op) = tr.span("sync_full.op")(SyncFull.syncOnce(spark, c, rows))
      res.check(ok, "traced syncAll")
      Env.reset(spark)
      op
    }

    val (tables, lt) = tr.span("sources.list_tables")(TableSync.listTables(c, DerbyDialect))
    L("sources.list_tables_s") = lt
    var (plan, read, write, critical, mismatches) = (0.0, 0.0, 0.0, 0.0, 0)
    tables.sorted.foreach { t =>
      val ((df, _), rp) = tr.span(s"sources.read_plan.$t")(
        TableSync.readTable(spark, c, t, DerbyDialect))
      val (_, rd) = tr.span(s"sources.read.$t")(
        df.write.format("noop").mode("overwrite").save())
      val (r, ts) = tr.span(s"sources.table_sync.$t")(TableSync.sync(spark, c, t, DerbyDialect))
      if (!r.countInvariantHolds) mismatches += 1
      res.check(r.countInvariantHolds, s"traced sync of $t: $r")
      L(s"sources.table_sync_s.$t") = ts
      L(s"sources.read_partitions.$t") = df.rdd.getNumPartitions.toLong
      plan += rp; read += rd; write += ts - rd; critical = math.max(critical, ts)
      Env.reset(spark)
    }
    L("sources.read_plan_s") = plan
    L("sources.read_s") = read
    L("sources.write_s") = write
    L("sources.critical_path_s") = critical
    val moved = (n: String) => n.startsWith("sources.read.") || n.startsWith("sources.table_sync.")
    val w = tr.workOf(moved)
    L("sources.tasks") = w.tasks
    L("sources.cpu_over_wall") = w.cpuNs / 1e9 / tr.seconds(moved)
    L("sources.count_mismatches") = mismatches.toLong
    SyncFull.checkContents("tr_src", "tr_tgt", res)

    // the reference's configuration: one thread per side, fetch and batch
    // size 1000, tables in series
    val ref = c.copy(tableParallelism = 1, numPartitions = 1, fetchSize = 1000, batchSize = 1000)
    val (rok, rs) = tr.span("sources.reference_config")(SyncFull.syncOnce(spark, ref, rows))
    res.check(rok, "reference-configuration syncAll")
    L("sources.reference_config_rows_per_s") = rows / rs
    Derby.drop("tr_src"); Derby.drop("tr_tgt")
    Env.reset(spark)
  }

  private def streaming(spark: SparkSession, args: Main.Args, res: Result, tr: Trace): Unit = {
    import UpsertStream._
    val L = res.layer
    val c = Derby.syncConf("tr_usrc", "tr_utgt", args.cpus)
    val state = setup(spark, args, "tr_usrc", "tr_utgt", c)
    val gen = new Generator(args.seed, state)
    var mark = gen.nextSeq - 1
    def emit(): IndexedSeq[IndexedSeq[AnyRef]] = {
      val b = gen.batch()
      append("tr_usrc", b)
      b.foreach(r => state(r(0).asInstanceOf[Long]) = r)
      b
    }
    for (_ <- 1 to 3) { // warm up as `upsert_stream` does
      emit()
      mark = JdbcIncremental.syncIncrement(spark, c, Table, Seq_, Seq(Key), mark, DerbyDialect)
      Env.reset(spark)
    }
    val (polls, applies, ops) = (Seq.newBuilder[Double], Seq.newBuilder[Double], Seq.newBuilder[Double])
    var (polled, applied, failedBatches) = (0L, 0L, 0L)
    for (_ <- 1 to StreamBatches) {
      val b = emit()
      try {
        val (inc, ps) = tr.span("streaming.poll")(
          JdbcIncremental.poll(spark, c, Table, Seq_, mark, DerbyDialect))
        val (_, as) = try tr.span("streaming.apply")(
          StreamSync.upsertBatch(c, DerbyDialect, Table, Seq(Key), Some(Seq_))(inc.df, inc.newMark.get))
        finally inc.df.unpersist()
        polls += ps; applies += as; ops += ps + as
        // what the sink wrote: one row per distinct key when the dedup
        // keeps only the greatest SEQ, more when it does not
        val wrote = Derby.count("tr_utgt", s"SELECT COUNT(*) FROM $Table WHERE $Seq_ > $mark")
        mark = inc.newMark.get
        polled += inc.rows; applied += wrote
        val keys = b.map(_(0)).distinct.size
        res.check(wrote == keys, s"applied $wrote rows for $keys keys")
        res.check(inc.rows == b.size, s"polled ${inc.rows} of ${b.size}")
      } catch { case e: Exception =>
        failedBatches += 1
        res.check(false, s"traced batch: $e")
      }
      Env.reset(spark)
    }
    L("trace.upsert_stream.op_s") = ops.result()
    L("streaming.poll_s") = polls.result()
    L("streaming.apply_s") = applies.result()
    L("streaming.rows_polled") = polled
    L("streaming.rows_applied") = applied
    L("streaming.dedup_ratio") = applied.toDouble / math.max(1L, polled)
    L("streaming.apply_txns") = tr.workOf(_ == "streaming.apply").nonEmptyResultTasks
    L("streaming.failed_batches") = failedBatches
    checkFinal("tr_utgt", state, res)
    Derby.drop("tr_usrc"); Derby.drop("tr_utgt")
    Env.reset(spark)
  }

  private def operators(spark: SparkSession, args: Main.Args, res: Result, tr: Trace): Unit = {
    import Analytics._
    val L = res.layer
    val dir = s"${args.data}/${Analytics.Sf}"
    val want = expected()
    val rnd = new scala.util.Random(args.seed)
    warmUp(spark, dir, rnd, want, res)
    pass(spark, dir, rnd.shuffle(All), Some(tr)) { (q, d, s) =>
      res.check(matches(want, q, d), s"traced $q digest $d")
      val w = tr.workOf(_ == s"operators.$q")
      L(s"operators.$q.s") = s
      L(s"operators.$q.jobs") = w.jobs
      if (set(q) == "iterative") {
        L(s"operators.$q.shuffle_bytes") = w.shuffleBytes
        L(s"operators.$q.pinned_rdds") = spark.sparkContext.getPersistentRDDs.size.toLong
      }
    }
    for ((name, qs) <- Seq("iterative" -> Iterative, "scan" -> Scan)) {
      val inSet = (n: String) => qs.exists(q => n == s"operators.$q")
      val w = tr.workOf(inSet)
      L(s"operators.$name.cpu_over_wall") = w.cpuNs / 1e9 / tr.seconds(inSet)
      L(s"operators.$name.shuffle_bytes") = w.shuffleBytes
      L(s"operators.$name.spill_bytes") = w.spillBytes
      L(s"operators.$name.tasks") = w.tasks
      res.named(s"${name}_s") = tr.seconds(inSet)
    }
    L("trace.analytics.op_s") = tr.seconds(_.startsWith("operators."))
  }
}
