package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.config.{FilterCfg, PipelineConfig}
import graft.dedup.Dedup
import graft.enrich.{CaptionStats, MetadataBackend}
import graft.etl.Pipeline
import graft.filters.RangeFilters
import graft.filters.RangeFilters.RangeFilter
import graft.similarity.Ann
import graft.sources.Readers
import graft.text.TextAnalysis

/** One timed operation. `jobs` is the [from, until) range of Spark job ids
  * it submitted; `gcSecs` the JVM's garbage-collection time meanwhile. */
final case class Op(name: String, secs: Double, rows: Long, inBytes: Long,
                    outBytes: Long, ok: Boolean, jobs: (Int, Int),
                    gcSecs: Double, error: String = "")

final case class Check(name: String, ok: Boolean, detail: String)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val ledger: Ledger,
                val tracing: Boolean, val inputs: String, val work: String,
                val seconds: Double, val seed: Long) {
  val tracer = new Tracer(spark.sparkContext)
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[Check]
  /** Untraced ops of a traced run, timed for the tracing overhead. */
  val plainOps = ArrayBuffer.empty[Op]
  /** Per-layer figures only a workload itself can compute. */
  val extras = mutable.Map.empty[String, Double]
  /** Wall-clock time of the first timed operation, epoch seconds. */
  var firstOpEpoch = 0.0
  var warmupSecs = 0.0
  var bootstrapSecs = 0.0
  /** Result dumps for the out-of-process oracle check:
    * query name -> (dir, oracle SQL). */
  val oracle = mutable.LinkedHashMap.empty[String, Map[String, String]]

  private val cached = ArrayBuffer.empty[DataFrame]

  /** Persist `df`, materialize it with one count, and return both. */
  def boundary(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached += p
    (p, p.count())
  }

  /** Materialize a lazy layer result, in traced runs only: the count
    * makes the layer's work run under the layer's span. */
  def traced(df: DataFrame): DataFrame =
    if (!tracer.on) df
    else {
      val (p, n) = boundary(df)
      tracer.rows(n)
      p
    }

  def release(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }

  /** A path under the run directory that must not exist yet: reusing a
    * store, warehouse or output dir would time a resume or a no-op. */
  def fresh(rel: String): String = {
    val f = new File(work, rel)
    require(!f.exists, s"$f already exists; every run needs fresh paths")
    f.getPath
  }

  def markFirstOp(): Unit =
    if (firstOpEpoch == 0.0) firstOpEpoch = Io.epochNow()

  /** A traced run's unit of work: the same op once untraced, into
    * [[plainOps]], and once traced, into [[ops]]. Pairs interleave and
    * alternate which half goes first, so neither JIT warm-up during the
    * run nor running right after the same op favours one side of the
    * overhead. */
  def pair(run: => Op): Unit = {
    markFirstOp()
    def traced(): Unit = {
      tracer.on = true
      try ops += run finally tracer.on = false
    }
    if (plainOps.size % 2 == 0) { plainOps += run; traced() }
    else { traced(); plainOps += run }
  }

  /** Time `body`; a throw becomes a failed op instead of ending the run.
    * Callers fill in `outBytes` once the op's output can be measured. */
  def op(name: String, rows: Long, inBytes: Long)(body: => Unit): Op = {
    val j0 = ledger.submitted
    val g0 = Io.gcMillis()
    val t0 = System.nanoTime()
    val err =
      try { body; "" }
      catch {
        case e: Exception =>
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val gc = (Io.gcMillis() - g0) / 1e3
    release()
    Op(name, secs, rows, inBytes, 0L, err.isEmpty, (j0, ledger.submitted),
      gc, err)
  }

  /** Number of timed ops of about `nominalSecs` each that fill `--seconds`,
    * at least one. It depends on `--seconds` alone, never on how fast the
    * program runs: a faster program must not change how many samples
    * `op_tail_s` picks its percentile from, or how much each op weighs. */
  def opsFor(nominalSecs: Double): Int =
    math.max(1, math.round(seconds / nominalSecs).toInt)

  /** Run exactly `n` timed ops, `next(0)` to `next(n - 1)`, with `n` from
    * [[opsFor]]. A check fails unless all `n` succeed, so every passing run
    * reports its metrics over the same sample count. */
  def fixedOps(n: Int)(next: Int => Op): Unit = {
    markFirstOp()
    (0 until n).foreach(i => ops += next(i))
    val ok = ops.count(_.ok)
    checks += Check("sample_count", ok == n, s"$ok of $n timed ops succeeded")
  }
}

object Io {
  def du(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).fold(0L)(_.map(du).sum)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Run independent tasks from one thread per core; each result or the
    * exception it threw, in task order. */
  def inParallel[T](tasks: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try {
      tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = t()
      })).map { f =>
        try Right(f.get())
        catch { case e: java.util.concurrent.ExecutionException =>
          Left(e.getCause) }
      }
    } finally pool.shutdown()
  }

  def epochNow(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }
}

/** A workload runs set-up (warm-up included) and then its operations:
  * with tracing off, as many as fill `--seconds` at a nominal op time
  * ([[Ctx.opsFor]]); with tracing on, a fixed number of [[Ctx.pair]]s, so
  * counts repeat across runs and the difference in wall time between the
  * traced and untraced halves is the tracing cost. */
trait Workload {
  def run(ctx: Ctx): Unit
}

/** `etl_captions`: the reference ETL, `Pipeline.run`, over a seeded
  * WikiCaps-format caption input, repeated with a fresh output dir each
  * time. */
object EtlCaptions extends Workload {
  // two range filters on enrich columns, exclusive bounds as in the
  // reference's filter_base.py
  val filters = Seq(FilterCfg("num_tok", Some(4.0), Some(30.0)),
                    FilterCfg("fk_re_score", Some(0.0), Some(110.0)))
  private val tracedOps = 3
  // the first run generates code and later ones still speed up while the
  // JIT compiles Spark's hot paths, so timing starts after this many
  private val warmupRuns = 2
  /** Nominal time of one warm pipeline run: 5-6 s on 4 cores. */
  private val opSecs = 5.0

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val input = s"${ctx.inputs}/captions"
    val inBytes = Io.du(new File(input))
    val nCaptions = new File(input).listFiles().map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().size.toLong finally src.close()
    }.sum
    // the reference's v2 ratio: 400k kept out of 3.8M
    val maxSamples = (nCaptions / 10).toInt
    def cfg(in: String, out: String) = PipelineConfig(inputPath = in,
      maxSamples = Some(maxSamples), posTagStats = true,
      readabilityScores = true, filters = filters, outputDir = out)
    val rangeFilters = filters.map(f => RangeFilter(f.columnId, f.min, f.max))

    /** Check one output; return its metadata_final row count and schema. */
    def check(out: String): (Long, String) = {
      val full = spark.read.parquet(s"$out/metadata_full")
      val expected = math.min(maxSamples.toLong,
        RangeFilters(full, rangeFilters).count())
      val inRange = rangeFilters.map(_.predicate).reduce(_ && _)
      val fin = spark.read.parquet(s"$out/metadata_final")
      val r = fin.agg(count(lit(1)), count(when(!inRange, 1))).head()
      val csv = spark.read.option("header", "true")
        .csv(s"$out/captions_csv").count()
      val (n, bad) = (r.getLong(0), r.getLong(1))
      ctx.checks += Check("etl_output", n == expected && csv == n && bad == 0,
        s"parquet=$n csv=$csv expected=$expected out_of_range=$bad")
      (n, fin.schema.simpleString)
    }

    // outputs are checked after the timed ops, so checks stay out of them
    final case class Out(dir: String, ok: Boolean, traced: Boolean)
    val outs = ArrayBuffer.empty[Out]
    def one(): Op = {
      val out = ctx.fresh(s"etl/run${outs.size}")
      val traced = ctx.tracer.on
      val o = ctx.op(s"pipeline_${outs.size}", nCaptions, inBytes) {
        if (traced) tracedRun(ctx, input, out, cfg(input, out), rangeFilters)
        else new Pipeline(spark, cfg(input, out)).run()
      }
      outs += Out(out, o.ok, traced)
      o.copy(outBytes = Io.du(new File(out)))
    }

    val w0 = System.nanoTime()
    (1 to warmupRuns).foreach { _ =>
      val o = one()
      require(o.ok, s"warm-up pipeline run failed: ${o.error}")
    }
    ctx.warmupSecs = (System.nanoTime() - w0) / 1e9
    val timed = outs.size
    if (!ctx.tracing) ctx.fixedOps(ctx.opsFor(opSecs))(_ => one())
    else {
      (0 until tracedOps).foreach(_ => ctx.pair(one()))
      val written = ctx.ops.map(_.outBytes)
      ctx.extras("etl.bytes_written_mb") = written.sum / written.size / 1e6
    }
    val shapes = outs.drop(timed).filter(_.ok).map(o => (o.traced, check(o.dir)))
    if (ctx.tracing) {
      // the traced path re-composes Pipeline.extract, so it must keep
      // giving what Pipeline.run alone gives
      val (tr, plain) = shapes.partition(_._1)
      val kinds = shapes.map(_._2).distinct
      ctx.checks += Check("traced_matches_untraced",
        tr.nonEmpty && plain.nonEmpty && kinds.size == 1,
        s"metadata_final rows: traced ${tr.map(_._2._1).mkString(",")}, " +
          s"untraced ${plain.map(_._2._1).mkString(",")}; " +
          s"${kinds.size} distinct (rows, schema)")
    }
    outs.foreach(o => Io.rmrf(new File(o.dir)))
  }

  /** Pipeline.run with its first stages called one layer at a time: scan,
    * enrich into the pipeline's own `metadata_full` checkpoint, filter;
    * `Pipeline.run` then resumes from that checkpoint. */
  private def tracedRun(ctx: Ctx, input: String, out: String,
                        cfg: PipelineConfig,
                        rangeFilters: Seq[RangeFilter]): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    t("op", "etl_captions") {
      val raw = t("sources", "Readers.wikicaps") {
        ctx.traced(Readers.wikicaps(spark, input))
      }
      t("enrich", "CaptionStats.enrich") {
        CaptionStats.enrich(raw, "caption", cfg.posTagStats,
            cfg.readabilityScores, MetadataBackend.Spacy)
          .write.parquet(s"$out/metadata_full")
      }
      val full = spark.read.parquet(s"$out/metadata_full")
      t("filters", "RangeFilters.apply") {
        ctx.traced(RangeFilters(full, rangeFilters))
      }
      t("etl", "Pipeline.run") { new Pipeline(spark, cfg).run() }
    }
  }
}

/** `shard_loop`: PIPELINE.md's steady state. Set-up bootstraps the
  * signature, substring, LM and IVF stores from shard 0; each operation
  * filters, dedups and scores one new shard against them and absorbs it. */
object ShardLoop extends Workload {
  private val warmupShards = 1
  private val tracedOps = 2
  /** Nominal time of one warm shard: 11-14 s on 4 cores. */
  private val shardSecs = 12.0

  final class Stores(ctx: Ctx, tag: String) {
    val sig = s"sig_$tag"; val sub = s"sub_$tag"; val lm = s"lm_$tag"
    val dir = ctx.fresh(s"stores/$tag")
    val ivf = s"$dir/ivf"
    val out = s"$dir/out"
    def dedupBytes: Long =
      Io.du(new File(s"$dir/sig")) + Io.du(new File(s"$dir/sub"))
    def bytes: Long = Io.du(new File(dir))

    /** Build the four stores from shard 0. They are independent, so
      * set-up builds them concurrently. */
    def bootstrap(spark: SparkSession, shard0: String): Unit = {
      val boot = Readers.parquet(spark, shard0)
      Io.inParallel(Seq(
        () => Dedup.writeSignatureStore(boot, "doc_id", "text", sig,
          s"$dir/sig"),
        () => Dedup.writeSubstringStore(boot, "doc_id", "text", sub,
          s"$dir/sub"),
        () => TextAnalysis.writeLmStore(boot, "text", lm, s"$dir/lm"),
        () => Ann.writeIvfIndex(boot, "doc_id", "embedding",
          nCentroids = 16, ivf)
      )).collect { case Left(e) => throw e }
    }
  }

  private def shardPath(ctx: Ctx, i: Int): String =
    f"${ctx.inputs}/shards/shard_$i%04d.parquet"

  /** One shard through the seven calls. In traced runs, appends (docs
    * offered, docs the signature store gained) to `absorbed`. */
  private def ingest(ctx: Ctx, st: Stores, i: Int,
                     absorbed: ArrayBuffer[(Long, Long)]): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    t("op", s"shard_$i") {
      val shard = t("sources", "Readers.parquet") {
        ctx.traced(Readers.parquet(spark, shardPath(ctx, i)))
      }
      val (kept, nKept) = t("text", "TextAnalysis.gopherFilter") {
        val r = ctx.boundary(TextAnalysis.gopherFilter(shard, "doc_id",
          "text", minWords = 20L, minStopHits = 1L))
        t.rows(r._2)
        r
      }
      val unique = t("dedup", "Dedup.dedupShardAgainst") {
        ctx.traced(Dedup.dedupShardAgainst(kept, "doc_id", "text", st.sig,
          threshold = 0.5))
      }
      val (kept2, _) = t("dedup", "Dedup.dedupSubstringShardAgainst") {
        val r = ctx.boundary(Dedup.dedupSubstringShardAgainst(unique,
          "doc_id", "text", st.sub))
        t.rows(r._2)
        r
      }
      t("text", "TextAnalysis.surprisalAgainstStore") {
        TextAnalysis.surprisalAgainstStore(
            kept2.select(col("doc_id"), col("text_kept").as("text")),
            "doc_id", "text", st.lm)
          .write.parquet(f"${st.out}/shard_$i%04d")
      }
      def storeDocs(): Long =
        if (t.on) spark.table(s"${st.sig}_shingles").count() else 0L
      val before = storeDocs()
      t("dedup", "Dedup.absorbIntoSignatureStore") {
        Dedup.absorbIntoSignatureStore(kept, "doc_id", "text", st.sig)
      }
      if (t.on) absorbed += ((nKept, storeDocs() - before))
      t("dedup", "Dedup.absorbIntoSubstringStore") {
        Dedup.absorbIntoSubstringStore(kept, "doc_id", "text", st.sub)
      }
      t("similarity", "Ann.absorbIvfIndex") {
        Ann.absorbIvfIndex(spark, st.ivf,
          unique.select("doc_id", "embedding"), "doc_id", "embedding")
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val nShards = new File(s"${ctx.inputs}/shards").list().length
    def rows(i: Int): Long =
      spark.read.parquet(shardPath(ctx, i)).count()
    val absorbed = ArrayBuffer.empty[(Long, Long)]

    def start(tag: String): Stores = {
      val st = new Stores(ctx, tag)
      val b0 = System.nanoTime()
      st.bootstrap(spark, shardPath(ctx, 0))
      ctx.bootstrapSecs = (System.nanoTime() - b0) / 1e9
      val w0 = System.nanoTime()
      (1 to warmupShards).foreach { i =>
        val o = ctx.op(s"warmup_$i", 0, 0)(ingest(ctx, st, i, absorbed))
        require(o.ok, s"warm-up shard $i failed: ${o.error}")
      }
      ctx.warmupSecs = (System.nanoTime() - w0) / 1e9
      st
    }

    def shardOp(st: Stores, i: Int): Op = {
      val before = st.bytes
      val path = shardPath(ctx, i)
      val n = rows(i)
      val o = ctx.op(s"shard_$i", n, new File(path).length) {
        ingest(ctx, st, i, absorbed)
      }
      o.copy(outBytes = st.bytes - before)
    }

    val first = warmupShards + 1
    val st = start("a")
    if (!ctx.tracing) {
      val n = math.min(ctx.opsFor(shardSecs), nShards - first)
      ctx.fixedOps(n)(k => shardOp(st, first + k))
      checks(ctx, st, 1 until first + n)
    } else {
      // traced shards go to a second store set that starts from the same
      // state, so each shard runs once untraced and once traced
      val tracedStores = new Stores(ctx, "b")
      tracedStores.bootstrap(spark, shardPath(ctx, 0))
      (1 until first).foreach { i =>
        ingest(ctx, tracedStores, i, absorbed)
        ctx.release()
      }
      (first until first + tracedOps).foreach { i =>
        ctx.pair(shardOp(if (ctx.tracer.on) tracedStores else st, i))
      }
      ledgerExtras(ctx, tracedStores, absorbed)
      checks(ctx, tracedStores, 1 until first + tracedOps)
    }
  }

  private def ledgerExtras(ctx: Ctx, st: Stores,
                           absorbed: ArrayBuffer[(Long, Long)]): Unit = {
    val t = ctx.tracer
    def spansOf(name: String) = t.spans.filter(_.name == name)
    val gopher = spansOf("TextAnalysis.gopherFilter").map(_.rows).sum
    val near = spansOf("Dedup.dedupShardAgainst").map(_.rows).sum
    ctx.extras("dedup.drop_ratio") =
      if (gopher > 0) 1.0 - near.toDouble / gopher else 0.0
    ctx.extras("dedup.absorb_fresh_ratio") =
      absorbed.map(_._2).sum.toDouble / math.max(1L, absorbed.map(_._1).sum)
    // absorb cost per shard: both dedup absorbs, in shard order
    val perShard = t.spans.filter(_.layer == "op").map { op =>
      t.spans.filter(s => s.parent == op.id &&
          s.name.startsWith("Dedup.absorbInto"))
        .map(s => (s.end - s.start) / 1e9).sum
    }
    val q = math.max(1, perShard.size / 4)
    ctx.extras("dedup.absorb_growth") =
      perShard.takeRight(q).sum / perShard.take(q).sum
    ctx.extras("dedup.store_mb") = st.dedupBytes / 1e6
    ctx.extras("similarity.store_mb") = Io.du(new File(st.ivf)) / 1e6
  }

  /** Untimed output checks: the signature store holds every document
    * offered to it, and replaying the last shard's absorb into it appends
    * nothing. */
  private def checks(ctx: Ctx, st: Stores, shards: Range): Unit = {
    val spark = ctx.spark
    val paths = (0 +: shards).map(shardPath(ctx, _))
    val boot = spark.read.parquet(paths.head).count()
    val offered = TextAnalysis.gopherFilter(
        spark.read.parquet(paths.tail: _*), "doc_id", "text",
        minWords = 20L, minStopHits = 1L).count()
    def docs(table: String) =
      spark.table(table).select("doc_id").distinct().count()
    val inStore = docs(s"${st.sig}_shingles")
    ctx.checks += Check("signature_store_docs", inStore == boot + offered,
      s"store=$inStore bootstrap=$boot absorbed=$offered")

    val last = TextAnalysis.gopherFilter(
      spark.read.parquet(paths.last), "doc_id", "text",
      minWords = 20L, minStopHits = 1L)
    def rows() = Seq(s"${st.sig}_bands", s"${st.sig}_shingles")
      .map(spark.table(_).count())
    val before = rows()
    Dedup.absorbIntoSignatureStore(last, "doc_id", "text", st.sig)
    val after = rows()
    ctx.checks += Check("replayed_absorb_appends_nothing", before == after,
      s"rows before=${before.mkString(",")} after=${after.mkString(",")}")
  }
}

/** `query_mix`: read-only SparkEntry queries through the noop sink in a
  * seeded order, round after round, one query in flight. */
object QueryMix extends Workload {
  /** Query name -> the layer whose public functions its body calls.
    * Sub-second notebook analytics, read-side text, dedup and similarity
    * queries, and the 43-job q8 composition; the list is cut to what one
    * run can warm up and time within the benchmark's time budget
    * (perfbench/README.md names the queries left out). */
  val mix: Seq[(String, String)] = Seq(
    "p3_j1_union_origin" -> "analytics", "a6_a8_totals" -> "queries",
    "a1_vocab" -> "vocab", "o4_topk_sort" -> "analytics",
    "o5_seeded_sample" -> "analytics", "p6_clamp_update" -> "analytics",
    "f1_range_filter" -> "filters", "e1_caption_stats" -> "enrich",
    "n1_cosine_topk" -> "similarity", "t14_gopher_quality" -> "text",
    "d6_near_dedup" -> "dedup", "q8_targeted_build" -> "queries")
  /** Nominal time of one warm round: 7-11 s on 4 cores. */
  private val roundSecs = 10.0

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tables = s"${ctx.inputs}/tables"
    val impl = SparkEntry.queries
    val missing = mix.map(_._1).filterNot(impl.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: $missing")
    val layerOf = mix.toMap

    // warm-up: each query once, its result dumped for the oracle check.
    // Untimed, so the queries run from one thread per core: first runs
    // are dominated by code generation, which a single query cannot
    // spread over the cores
    val w0 = System.nanoTime()
    val dumps = mix.map { case (q, _) =>
      val dir = ctx.fresh(s"oracle/$q")
      ctx.oracle(q) = Map("dir" -> dir, "sql" -> SparkEntry.oracleSql(q))
      () => impl(q)(spark, tables).coalesce(1).write.parquet(dir)
    }
    Io.inParallel(dumps).zip(mix).foreach {
      case (Left(e), (q, _)) => ctx.checks += Check(s"oracle:$q", ok = false,
        s"warm-up run failed: $e".take(300))
      case _ =>
    }
    val resultRows = ctx.oracle.map { case (q, o) =>
      q -> (if (new File(o("dir")).exists) spark.read.parquet(o("dir")).count()
            else -1L)
    }

    def order(round: Int): Seq[String] =
      new scala.util.Random(ctx.seed * 7919 + round).shuffle(mix.map(_._1))
    def one(q: String): Op = ctx.op(q, 0, 0) {
      ctx.tracer(layerOf(q), q) {
        impl(q)(spark, tables).write.format("noop").mode("overwrite").save()
        ctx.tracer.rows(resultRows(q))
      }
    }
    // and one round as it will be timed, one query in flight: after only
    // the parallel dumps, the timed round ran while the JIT still compiled
    order(-1).foreach { q =>
      val o = one(q)
      if (!o.ok) ctx.checks += Check(s"warmup:$q", ok = false, o.error)
    }
    ctx.warmupSecs = (System.nanoTime() - w0) / 1e9
    if (!ctx.tracing) {
      // whole rounds, so every query weighs the same in every run
      val seq = (0 until ctx.opsFor(roundSecs)).flatMap(order)
      ctx.fixedOps(seq.size)(i => one(seq(i)))
    } else order(0).foreach(q => ctx.pair(one(q)))
    // attribute each op's input and shuffle bytes from its job range
    ctx.ledger.drain()
    def withIo(o: Op): Op = {
      val a = ctx.ledger.jobs(o.jobs._1, o.jobs._2)
      o.copy(rows = a.recordsRead, inBytes = a.bytesRead,
        outBytes = a.shuffleWrite)
    }
    ctx.ops.mapInPlace(withIo)
    ctx.plainOps.mapInPlace(withIo)
  }
}
