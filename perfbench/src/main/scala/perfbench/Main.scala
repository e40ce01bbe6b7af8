package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Catalog
import graft.txn.TxnTable
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark process: one closed-loop client driving the engine
  * in-process. Run through `perfbench/run.py`, which builds the classpath
  * and gives every run its own working directory; see README.md.
  */
object Main {
  val SelingerRule = "graft.plans.SelingerJoinReorder"
  private[perfbench] val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, expected: String) {
    // one core is left to the JVM's compiler and collector threads
    val cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    if (kv.contains("expect")) fingerprintVerifyOutput(need("expect"), need("out"))
    else if (kv.contains("prepare")) prepareStats(need("data"), need("work"))
    else {
      val conf = Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
        need("trace") == "1", need("data"), need("work"), need("expected"))
      require(Workloads.Names.contains(conf.workload),
        s"unknown workload '${conf.workload}' (expected one of ${Workloads.Names.mkString(", ")})")
      require(conf.seconds > 0, "--seconds must be positive")
      new Run(conf).execute()
    }
  }

  /** Maintainer mode: fingerprints every benchmarked query's result as
    * dumped by `graft.Verify` (after `tools/check_oracle.py` passed it).
    */
  def fingerprintVerifyOutput(verifyOut: String, outFile: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-expect")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val prints = Workloads.AllQueries.map { q =>
      val df = spark.read.parquet(s"$verifyOut/$q")
      val p = Fingerprint.of(df.columns.toSeq, df.collect().toSeq)
      q -> ListMap("rows" -> p.rows, "hash" -> p.hash)
    }
    Files.writeString(Paths.get(outFile), json.writeValueAsString(ListMap(prints: _*)))
    spark.stop()
  }

  /** Build step: writes the statistics sidecar (to `GRAFT_STATS_DIR`)
    * for every table, as a long-lived deployment would have it on disk.
    * Each run starts from a copy, so set-up loads statistics instead of
    * rebuilding them; a table the sidecar misses is built and counted.
    */
  def prepareStats(data: String, work: String): Unit = {
    val spark = newSession(Conf("", 0, 0, trace = false, data, work, ""))
    Catalog.statsMany(spark, data, Catalog.tableNames, withHistograms = true)
    spark.stop()
  }

  def newSession(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      // the engine posture of Bench/Verify
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // everything a run writes stays in its working directory
      .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
      .config("spark.local.dir", s"${c.work}/local")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(spark.conf.get("spark.sql.adaptive.enabled").toBoolean,
      "the engine posture requires spark.sql.adaptive.enabled=true")
    spark
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
}

/** Sums for the per-layer report, filled only by the traced run. */
private final class LayerSums {
  val timed = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def add(k: String, ms: Double): Unit = timed.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ms
  def mean(k: String): Double = timed.get(k).filter(_.nonEmpty).map(b => b.sum / b.size).getOrElse(0.0)
  var selingerNs, selingerCalls, selingerEffective, reorderedOps = 0L
  var bytesWritten = 0L
  var overheadNs = 0L
  def clear(): Unit = {
    timed.clear(); selingerNs = 0; selingerCalls = 0; selingerEffective = 0; reorderedOps = 0
    bytesWritten = 0; overheadNs = 0
  }
}

private final class Run(c: Main.Conf) {
  import Main._
  private val spans = new Spans(c.trace)
  private val tally = new Tally
  private val listener = new LayerListener
  private val sums = new LayerSums
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val queryOps = mutable.Set.empty[Int]
  private val opNames = mutable.Map.empty[Int, String]
  private var spark: SparkSession = _
  private val expected: JsonNode = json.readTree(Paths.get(c.expected).toFile)

  // transactional state (ingest_writes)
  private val txnRoot = Paths.get(c.work, "txn")
  private val txnTables = mutable.Map.empty[String, TxnTable]
  private val committed = mutable.Map.empty[String, mutable.Map[String, Long]]
  private val sources = mutable.Map.empty[String, (DataFrame, String)]

  private def sc = spark.sparkContext
  private def ms(ns: Long): Double = ns / 1e6

  def execute(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    setup()
    spans.span("setup.warmup", -1, 0)(_ =>
      Workloads.warmup(c.workload).foreach { q => opId += 1; runOp(QueryOp(q), opId) })
    latencies.clear()
    queryOps.clear()
    sums.clear()
    firstTimedOp = opId + 1
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val gcBefore = gcTotals()
    val t0 = System.nanoTime()
    val rounds = Workloads.rounds(c.workload, c.seconds)
    val roundNs = (0 until rounds).map { r =>
      val t = System.nanoTime()
      runRound(r)
      System.nanoTime() - t
    }
    val wallNs = System.nanoTime() - t0
    val gcAfter = gcTotals()
    val liveHeapMb = liveHeapBytes() / (1024.0 * 1024.0)

    val n = latencies.size
    val p50 = Stats.median(latencies.toSeq)
    val geomean = Stats.geomean(latencies.toSeq)
    val p90 = Stats.percentile(latencies.toSeq, 0.9)
    val throughput = n / (wallNs / 1e9)
    println(f"perfbench ${c.workload} seed=${c.seed} rounds=$rounds ops=$n " +
      f"wall=${wallNs / 1e9}%.2fs cores=${c.cores} round_s=" +
      roundNs.map(ns => f"${ns / 1e9}%.2f").mkString(","))
    println(f"  setup_s=$setupS%.3f s  throughput_ops_s=$throughput%.4f ops/s  " +
      f"latency_geomean_ms=$geomean%.1f ms  latency_p50_ms=$p50%.1f ms  latency_p90_ms=" +
      p90.map(v => f"$v%.1f ms").getOrElse(
        s"refused (fewer than ${Stats.MinBeyond} of $n samples above it; " +
          s"needs ${Stats.samplesNeeded(0.9)})") +
      f" (n=$n)  failed_frac=${tally.failedFrac}%.4f  live_heap_mb=$liveHeapMb%.1f MB")
    tally.reasons.foreach(r => println(s"  FAILED $r"))
    val sparkConf = ListMap((spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.local")
    } ++ Seq("spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k).getOrElse(""))).sortBy(_._1): _*)
    println("  conf " + json.writeValueAsString(sparkConf))

    val metrics: Seq[(String, Double, String)] =
      if (!c.trace) Seq(
        ("setup_s", setupS, "s"),
        ("throughput_ops_s", throughput, "1/s"),
        ("latency_geomean_ms", geomean, "ms"),
        ("live_heap_mb", liveHeapMb, "MB"))
      else layerMetrics(wallNs, opId - firstTimedOp + 1, gcBefore, gcAfter)
    if (c.trace) {
      metrics.foreach { case (k, v, u) => println(f"  $k%-30s $v%14.4f $u") }
      writeSpans()
    }
    val result = ListMap(
      "correct" -> (tally.failed == 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))
    val line = json.writeValueAsString(result)
    Files.writeString(Paths.get(c.work, "result.json"), line)
    System.out.flush()
    spark.stop()
    println(line)
  }

  // ------------------------------------------------------------------ setup

  private var tablesBuilt = 0

  private def setup(): Unit = spans.span("setup", -1, 0) { root =>
    spark = spans.span("setup.session", -1, root)(_ => newSession(c))
    if (c.trace) sc.addSparkListener(listener)
    sc.setLocalProperty(LayerListener.OpKey, "-1")
    val names = Workloads.tables(c.workload)
    val tables = spans.span("setup.tables", -1, root)(_ =>
      names.map(n => n -> Catalog.table(spark, c.data, n)).toMap)
    // the sidecar as the run found it; statsMany rewrites it after a build
    val sidecar = if (c.trace) sidecarEntries() else Set.empty[(String, String)]
    spans.span("setup.stats", -1, root)(_ =>
      Catalog.statsMany(spark, c.data, names, withHistograms = true))
    // a table missed the sidecar unless it held a full entry whose file-set
    // signature matches the live scan (StatsRegistry.lookupVerified's rule)
    if (c.trace) tablesBuilt = names.count { n =>
      val plan = tables(n).queryExecution.analyzed
      val entry = for {
        k <- graft.stats.StatsRegistry.planKey(plan)
        sig <- graft.stats.StatsRegistry.signatureOf(plan)
      } yield (k, sig)
      !entry.exists(sidecar)
    }
    spans.span("setup.staging", -1, root) { _ =>
      if (c.workload == "ingest_writes") graft.Queries.stageStreamSource(spark, c.data)
    }
    spans.span("setup.posture", -1, root)(_ => assertExtensionsLive())
    if (c.workload == "ingest_writes") spans.span("setup.txn", -1, root)(_ => openTxnTables())
  }

  /** (key, signature) of every full-histogram entry in the sidecar files
    * under `GRAFT_STATS_DIR`, read as plain JSON lines so the engine's
    * statistics registry is left untouched for the timed load.
    */
  private def sidecarEntries(): Set[(String, String)] =
    sys.env.get("GRAFT_STATS_DIR").map(Paths.get(_)).filter(Files.isDirectory(_)).toSeq
      .flatMap(d => scala.util.Using.resource(Files.list(d))(_.iterator().asScala.toList))
      .filter(f => f.getFileName.toString.matches("part-.*\\.json"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .filter(_.trim.nonEmpty)
      .map(json.readTree)
      .filter(_.path("full").asBoolean(false))
      .map(e => (e.path("key").asText, e.path("signature").asText))
      .toSet

  /** GraftExtensions must be installed: its Selinger rule has to run in
    * q05's optimizer pass.
    */
  private def assertExtensionsLive(): Unit = {
    val df = graft.Queries.all("q05_join_opt")(spark, c.data)
    df.queryExecution.optimizedPlan
    require(df.queryExecution.tracker.rules.contains(SelingerRule),
      s"$SelingerRule did not run on q05_join_opt: GraftExtensions is not live")
  }

  private def openTxnTables(): Unit =
    Workloads.TxnTables.foreach { case (name, source, key, cols) =>
      sources(name) = (Catalog.table(spark, c.data, source).select(cols.map(col): _*), key)
      txnTables(name) = new TxnTable(spark, txnRoot.resolve(name).toString)
      committed(name) = mutable.Map.empty
    }

  // -------------------------------------------------------------- the ops

  private var opId, nextTxn = 0
  private var firstTimedOp = 1

  private def runRound(round: Int): Unit = {
    val ops = Workloads.round(c.workload, c.seed, round, nextTxn + 1)
    nextTxn += ops.count(_.isInstanceOf[TxnOp])
    ops.foreach { op => opId += 1; runOp(op, opId) }
  }

  private def runOp(op: Op, id: Int): Unit = {
    sc.setLocalProperty(LayerListener.OpKey, id.toString)
    listener.currentOp = id
    opNames(id) = op.name
    val t0 = System.nanoTime()
    val problem =
      try spans.span("op", id, 0) { opSpan =>
        op match {
          case QueryOp(name) => runQuery(name, id, opSpan)
          case t: TxnOp => runTxn(t, id, opSpan); None
          case MaintenanceOp() =>
            txnTables.values.foreach { t =>
              txnCall("txn.checkpoint", id, opSpan)(t.checkpoint())
              txnCall("txn.compact", id, opSpan)(t.compact())
            }
            None
          case InflightOp(table, slice) =>
            val t = txnTables(table)
            val txn = t.txns.startTxn()
            insert(table, t, txn, slice, s"inflight-$id", id, opSpan)
            None
          case RecoverOp() => recoverAndCheck(id, opSpan)
        }
      } catch { case NonFatal(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    latencies += (System.nanoTime() - t0) / 1e6
    tally.record(s"${op.name}#$id", problem)
    if (c.trace) tracing(PerfbenchBus.drain(sc))
    listener.currentOp = -2
  }

  private def runQuery(name: String, id: Int, opSpan: Int): Option[String] = {
    queryOps += id
    sc.setLocalProperty(LayerListener.PhaseKey, "construct")
    val df = spans.span("queries.construct", id, opSpan)(_ => graft.Queries.all(name)(spark, c.data))
    sc.setLocalProperty(LayerListener.PhaseKey, "exec")
    val rows = spans.span("exec.run", id, opSpan)(_ => df.collect())
    sc.setLocalProperty(LayerListener.PhaseKey, null)
    if (c.trace) tracing(recordPlanning(df, id))
    val got = Fingerprint.of(df.columns.toSeq, rows.toSeq)
    Option(expected.path("queries").get(name)) match {
      case None => Some("no expected fingerprint")
      case Some(e) if e.get("rows").asLong == got.rows && e.get("hash").asText == got.hash => None
      case Some(e) => Some(s"fingerprint rows=${got.rows} hash=${got.hash}, expected " +
        s"rows=${e.get("rows").asLong} hash=${e.get("hash").asText}")
    }
  }

  /** Planning phases and the Selinger rule's counters of the executed DataFrame. */
  private def recordPlanning(df: DataFrame, id: Int): Unit = {
    val tracker = df.queryExecution.tracker
    val parents = Set("queries.construct", "exec.run")
    Seq("analysis" -> "plans.analyze", "optimization" -> "plans.optimize",
        "planning" -> "plans.physical").foreach { case (phase, span) =>
      val d = tracker.phases.get(phase)
      sums.add(span, d.map(_.durationMs.toDouble).getOrElse(0.0))
      d.foreach(p => spans.addEpochMs(span, id, parents, p.startTimeMs, p.endTimeMs))
    }
    tracker.rules.get(SelingerRule).foreach { r =>
      sums.selingerNs += r.totalTimeNs
      sums.selingerCalls += r.numInvocations
      sums.selingerEffective += r.numEffectiveInvocations
      if (r.numEffectiveInvocations > 0) sums.reorderedOps += 1
    }
  }

  private def runTxn(t: TxnOp, id: Int, opSpan: Int): Unit = {
    val table = txnTables(t.table)
    val txn = txnCall("txn.begin", id, opSpan)(table.txns.startTxn())
    val tags = t.slices.zipWithIndex.map { case (slice, k) =>
      val tag = s"${t.table}-${t.id}-$k"
      insert(t.table, table, txn, slice, tag, id, opSpan)
      tag -> sliceRows(t.table, slice)
    }
    if (t.commit) {
      txnCall("txn.commit", id, opSpan)(table.txns.commitTxn(txn))
      committed(t.table) ++= tags
    } else txnCall("txn.abort", id, opSpan)(table.txns.abortTxn(txn))
  }

  private def insert(name: String, table: TxnTable, txn: Long, slice: Int, tag: String,
      id: Int, opSpan: Int): Unit = {
    val (src, key) = sources(name)
    val batch = src.where(col(key) % Workloads.Slices === slice).withColumn("pb_tag", lit(tag))
    val root = Paths.get(table.dir)
    val before = if (c.trace) tracing(dirBytes(root)) else 0L
    sc.setLocalProperty(LayerListener.PhaseKey, "txn")
    txnCall("txn.insert", id, opSpan)(table.insert(txn, batch))
    if (c.trace) sums.bytesWritten += tracing(dirBytes(root)) - before
  }

  private def sliceRows(table: String, slice: Int): Long =
    expected.path("slices").path(table).get(slice).asLong

  /** Runs harness work that only the traced run does, counting its time
    * toward `trace.overhead_frac`.
    */
  private def tracing[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally sums.overheadNs += System.nanoTime() - t
  }

  private def txnCall[A](name: String, id: Int, opSpan: Int)(body: => A): A = {
    val t = System.nanoTime()
    try spans.span(name, id, opSpan)(_ => body)
    finally if (c.trace) sums.add(name, ms(System.nanoTime() - t))
  }

  /** Ends a round: crash every table, reopen it from disk, recover, and
    * check that exactly the acknowledged commits are visible, each with
    * all of its rows.
    */
  private def recoverAndCheck(id: Int, opSpan: Int): Option[String] = {
    val problems = txnTables.keys.toSeq.sorted.flatMap { name =>
      txnCall("txn.recover_read", id, opSpan) {
        txnTables(name).crash()
        val reopened = new TxnTable(spark, txnRoot.resolve(name).toString)
        reopened.recover()
        txnTables(name) = reopened
        val seen = reopened.read().groupBy("pb_tag").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = committed(name).toMap
        if (seen == want) None
        else {
          val missing = (want.keySet -- seen.keySet).toSeq.sorted
          val extra = (seen.keySet -- want.keySet).toSeq.sorted
          val short = want.keySet.intersect(seen.keySet).filter(k => want(k) != seen(k))
          Some(s"$name after recovery: missing commits ${missing.mkString(",")}; " +
            s"visible uncommitted ${extra.mkString(",")}; wrong counts ${short.mkString(",")}")
        }
      }
    }
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  // ------------------------------------------------------------- reporting

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Heap in use after full collections: the least of several readings.
    * Spark's context cleaner frees some objects only after a collection
    * has cleared their weak refs, and it does so on its own thread, so a
    * single reading, or the first one that stops falling, can still hold
    * garbage the next collection drops.
    */
  private def liveHeapBytes(): Long =
    Iterator.continually {
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.take(6).min

  private def layerMetrics(wallNs: Long, ops: Int,
      gcBefore: (Long, Long), gcAfter: (Long, Long)): Seq[(String, Double, String)] = {
    val timedOps = listener.ops.filter { case (op, _) => op >= firstTimedOp }.values.toSeq
    def total(f: OpCounters => Long): Double = timedOps.map(f).sum.toDouble
    def perOp(f: OpCounters => Long): Double = if (ops == 0) 0.0 else total(f) / ops
    val triggerMs = timedOps.flatMap(_.triggerMs).map(_.toDouble)
    val triggers = total(_.triggers)
    def perTrigger(f: OpCounters => Long): Double = if (triggers == 0) 0.0 else total(f) / triggers
    val streamOps = timedOps.filter(_.triggers > 0)
    def perStreamOp(f: OpCounters => Long): Double =
      if (streamOps.isEmpty) 0.0 else streamOps.map(f).sum.toDouble / streamOps.size
    val timedSpans = spans.all.filter(_.op >= firstTimedOp)
    def setupMs(name: String): Double = spans.all.filter(_.name == name).map(_.durNs).sum / 1e6
    val selfNs = Spans.selfByLayer(timedSpans)
    def self(layer: String): Double = selfNs.getOrElse(layer, 0L) / 1e6 / math.max(ops, 1)
    val txnBytesEnd = txnTables.values.map(t => dirBytes(Paths.get(t.dir))).sum
    val logRecords = txnTables.values.map(_.log.durableRecords().size).sum
    val nq = math.max(queryOps.size, 1)
    def perQuery(k: String): Double = sums.timed.get(k).map(_.sum / nq).getOrElse(0.0)
    val constructMs = timedSpans.filter(_.name == "queries.construct").map(_.durNs).sum / 1e6 / nq
    val runMs = timedSpans.filter(_.name == "exec.run").map(_.durNs).sum / 1e6 / nq
    Seq(
      ("queries.construct_ms", constructMs, "ms"),
      ("queries.construct_jobs", total(_.constructJobs), "count"),
      ("queries.staging_ms", setupMs("setup.staging"), "ms"),
      ("plans.analyze_ms", perQuery("plans.analyze"), "ms"),
      ("plans.optimize_ms", perQuery("plans.optimize"), "ms"),
      ("plans.physical_ms", perQuery("plans.physical"), "ms"),
      ("plans.selinger_ms", sums.selingerNs / 1e6 / nq, "ms"),
      ("plans.selinger_fire_ratio",
        if (sums.selingerCalls == 0) 0.0 else sums.selingerEffective.toDouble / sums.selingerCalls, "ratio"),
      ("plans.reordered_ops", sums.reorderedOps.toDouble, "count"),
      ("exec.run_ms", runMs, "ms"),
      ("exec.jobs", total(_.jobs), "count"),
      ("exec.stages", total(_.stages), "count"),
      ("exec.tasks", total(_.tasks), "count"),
      ("exec.task_run_ms", perOp(_.taskRunMs), "ms"),
      ("exec.task_cpu_ms", perOp(_.taskCpuNs) / 1e6, "ms"),
      ("exec.task_gc_ms", perOp(_.taskGcMs), "ms"),
      ("exec.task_wait_ms", perOp(_.taskWaitMs), "ms"),
      ("exec.shuffle_read_bytes", perOp(_.shuffleRead), "bytes"),
      ("exec.shuffle_write_bytes", perOp(_.shuffleWrite), "bytes"),
      ("exec.spill_bytes", perOp(_.spill), "bytes"),
      ("exec.input_bytes", perOp(_.input), "bytes"),
      ("exec.output_bytes", perOp(_.output), "bytes"),
      ("exec.failed_tasks", total(_.failedTasks), "count"),
      ("streaming.triggers", triggers, "count"),
      ("streaming.data_trigger_ratio", if (triggers == 0) 0.0 else total(_.dataTriggers) / triggers, "ratio"),
      ("streaming.trigger_p50_ms", if (triggerMs.isEmpty) 0.0 else Stats.median(triggerMs), "ms"),
      ("streaming.query_planning_ms", perTrigger(_.planningMs), "ms"),
      ("streaming.add_batch_ms", perTrigger(_.addBatchMs), "ms"),
      ("streaming.wal_commit_ms", perTrigger(_.walCommitMs), "ms"),
      ("streaming.commit_offsets_ms", perTrigger(_.commitOffsetsMs), "ms"),
      ("streaming.state_commit_ms", perTrigger(_.stateCommitMs), "ms"),
      ("streaming.state_rows", perStreamOp(_.stateRows), "rows"),
      ("streaming.state_mem_bytes", perStreamOp(_.stateMem), "bytes"),
      ("streaming.input_rows_per_s",
        if (triggerMs.sum == 0) 0.0 else total(_.inputRows) / (triggerMs.sum / 1000.0), "rows/s"),
      ("txn.insert_ms", sums.mean("txn.insert"), "ms"),
      ("txn.commit_ms", sums.mean("txn.commit"), "ms"),
      ("txn.abort_ms", sums.mean("txn.abort"), "ms"),
      ("txn.checkpoint_ms", sums.mean("txn.checkpoint"), "ms"),
      ("txn.compact_ms", sums.mean("txn.compact"), "ms"),
      ("txn.recover_read_ms", sums.mean("txn.recover_read"), "ms"),
      ("txn.log_records", logRecords.toDouble, "count"),
      ("txn.bytes_written", sums.bytesWritten.toDouble, "bytes"),
      ("txn.disk_bytes_end", txnBytesEnd.toDouble, "bytes"),
      ("core.table_open_ms", setupMs("setup.tables"), "ms"),
      ("stats.load_ms", setupMs("setup.stats"), "ms"),
      ("stats.tables_built", tablesBuilt.toDouble, "count"),
      ("jvm.gc_ms", (gcAfter._1 - gcBefore._1).toDouble / math.max(ops, 1), "ms"),
      ("jvm.gc_count", (gcAfter._2 - gcBefore._2).toDouble, "count"),
      ("self.op_ms", self("op"), "ms"),
      ("self.queries_ms", self("queries"), "ms"),
      ("self.plans_ms", self("plans"), "ms"),
      ("self.exec_ms", self("exec"), "ms"),
      ("self.txn_ms", self("txn"), "ms"),
      ("trace.overhead_frac", (sums.overheadNs + spans.overheadNs).toDouble / wallNs, "ratio"))
  }

  /** Spans go to `spans.jsonl` after the timed phase, one object a line. */
  private def writeSpans(): Unit = {
    val self = Spans.selfTimes(spans.all)
    val lines = spans.all.sortBy(_.startNs).map { s =>
      json.writeValueAsString(ListMap("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "op_name" -> opNames.getOrElse(s.op, "setup"), "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id)))
    }
    Files.write(Paths.get(c.work, "spans.jsonl"), lines.asJava)
  }
}
