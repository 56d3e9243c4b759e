package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the program's public functions
  * and writes the raw observations as JSON; `perfbench/run.py` turns them
  * into metrics.
  *
  *   graftbench.Main --workload <name> --inputs <dir> --work <dir>
  *     --seconds <s> --trace <0|1> --seed <n> --out <result.json>
  *
  * `--work` must not exist: warehouse, stores, outputs and Spark's local
  * and temp dirs all live under it, so nothing from an earlier run can be
  * resumed or absorbed as a no-op. */
object Main {
  val layers = Seq("sources", "enrich", "filters", "etl", "text", "dedup",
    "similarity", "analytics", "vocab", "queries")

  val workloads: Map[String, Workload] = Map(
    "etl_captions" -> EtlCaptions, "shard_loop" -> ShardLoop,
    "query_mix" -> QueryMix)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = workloads.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}"))
    val work = new File(a("work"))
    require(!work.exists, s"$work already exists; every run needs a fresh dir")
    HeapAfterGc.start()
    new File(work, "tmp").mkdirs() // java.io.tmpdir of this JVM
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ledger = new Ledger(spark.sparkContext)
    spark.sparkContext.addSparkListener(ledger)
    val sessionSecs = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, ledger, a("trace") == "1", a("inputs"),
      work.getPath, a("seconds").toDouble, a("seed").toLong)
    workload.run(ctx)
    ledger.drain()
    HeapAfterGc.collectOnce() // so even a run without a collection has one

    val out = Map(
      "workload" -> a("workload"),
      "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "first_op_epoch" -> ctx.firstOpEpoch,
      "setup_parts" -> Map("session_s" -> sessionSecs,
        "bootstrap_s" -> ctx.bootstrapSecs, "warmup_s" -> ctx.warmupSecs),
      "ops" -> ctx.ops.map(opJson),
      "checks" -> ctx.checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> ctx.oracle,
      "vm_hwm_mb" -> vmHwmMb(),
      "heap_committed_mb" ->
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MB,
      "heap_after_gc_peak_mb" -> HeapAfterGc.peak / MB,
      "gc_count" -> HeapAfterGc.collections,
      "layers" -> (if (ctx.tracing) ledgerMetrics(ctx, cores)
                   else Map.empty))
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(out))
    spark.stop()
  }

  private def opJson(o: Op) = Map("name" -> o.name, "secs" -> o.secs,
    "rows" -> o.rows, "in_bytes" -> o.inBytes, "out_bytes" -> o.outBytes,
    "ok" -> o.ok, "jobs" -> (o.jobs._2 - o.jobs._1), "error" -> o.error)

  private val MB = 1048576.0

  /** VmHWM of this process: the local-mode driver and executors. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The per-layer ledger of a traced run. Layer figures come from the
    * traced ops; `spark.*` from the same ops run untraced, so extra
    * materializations at layer boundaries do not count as scheduling. */
  private def ledgerMetrics(ctx: Ctx, cores: Int): Map[String, Double] = {
    val t = ctx.tracer
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (layer <- layers) {
      val spans = t.spans.filter(_.layer == layer)
      val acc = new ctx.ledger.Acc
      spans.foreach(s => acc += ctx.ledger.group(s.group))
      val rows = spans.map(s => if (s.rows >= 0) s.rows
        else ctx.ledger.group(s.group).recordsWritten).sum
      m(s"$layer.busy_s") = spans.map(t.selfNanos).sum / 1e9
      m(s"$layer.calls") = spans.size
      m(s"$layer.jobs") = acc.jobs
      m(s"$layer.tasks") = acc.tasks
      m(s"$layer.exec_run_s") = acc.runMs / 1e3
      m(s"$layer.exec_cpu_s") = acc.cpuNs / 1e9
      m(s"$layer.shuffle_write_mb") = acc.shuffleWrite / 1e6
      m(s"$layer.shuffle_read_mb") = acc.shuffleRead / 1e6
      m(s"$layer.spill_mb") = acc.spill / 1e6
      m(s"$layer.rows_out") = rows
    }
    val plain = ctx.plainOps
    val jobs = new ctx.ledger.Acc
    plain.foreach(o => jobs += ctx.ledger.jobs(o.jobs._1, o.jobs._2))
    val plainWall = plain.map(_.secs).sum
    m("spark.jobs") = jobs.jobs
    m("spark.stages") = jobs.stages
    m("spark.gc_s") = plain.map(_.gcSecs).sum
    m("spark.sched_share") = 1.0 - jobs.runMs / 1e3 / (cores * plainWall)
    def rowsOf(name: String) =
      t.spans.filter(_.name == name).map(_.rows).sum.toDouble
    val enriched = t.spans.filter(_.name == "CaptionStats.enrich")
      .map(s => ctx.ledger.group(s.group).recordsWritten).sum
    m("filters.keep_ratio") =
      if (enriched > 0) rowsOf("RangeFilters.apply") / enriched else 0.0
    for (k <- Seq("dedup.drop_ratio", "dedup.absorb_fresh_ratio",
                  "dedup.absorb_growth", "dedup.store_mb",
                  "similarity.store_mb", "etl.bytes_written_mb"))
      m(k) = ctx.extras.getOrElse(k, 0.0)
    m("queries.q8_targeted_build.jobs") = t.spans
      .filter(_.name == "q8_targeted_build")
      .map(s => ctx.ledger.group(s.group).jobs).sum.toDouble
    m("trace.overhead_s") = ctx.ops.map(_.secs).sum - plainWall
    m.toMap
  }
}

/** The highest heap occupancy right after a garbage collection, over every
  * collection since [[start]]: the heap the program's data needed, which
  * a fixed heap size hides from VmHWM. */
object HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile var peak = 0L
  @volatile var collections = 0

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized {
          peak = math.max(peak, used)
          collections += 1
        }
      }
  }

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
    .foreach(_.addNotificationListener(listener, null, null))

  /** Run a full collection and wait (up to 10 s) for its notification. */
  def collectOnce(): Unit = {
    val before = collections
    System.gc()
    val deadline = System.nanoTime() + 10000000000L
    while (collections == before && System.nanoTime() < deadline)
      Thread.sleep(10)
  }
}
