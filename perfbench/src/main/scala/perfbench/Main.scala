package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry

/** One timed call into a public entry point and the check of its result. */
final case class Op(name: String, module: String,
    build: SparkSession => DataFrame, check: Digest => Boolean)

/** A workload: the ops of one pass, the untimed warm-up ops (codegen, JIT
  * and lazily built state; each distinct plan once), and the one-time
  * builds set-up pays after the session starts. */
final case class Workload(ops: IndexedSeq[Op], warmup: IndexedSeq[Op],
    setup: SparkSession => Unit, nominalPassS: Double) {
  /** Timed passes for a run of `seconds`. The work is fixed by `seconds`
    * alone, never by the clock, so every run of a workload measures the
    * same ops and their order statistics stay comparable. */
  def passes(seconds: Int): Int = math.max(1, (seconds / nominalPassS + 0.5).toInt)
}

/** Closed-loop benchmark: one client thread, `local[cores]`, whole passes
  * over a workload's ops in a seed-permuted order. Prints one JSON line.
  *
  * Usage (run.py passes these): perfbench.Main --workload W --seed N
  *   --seconds S --trace 0|1 --work DIR [--data DIR] [--cores N]
  *   [--goldens FILE] [--record FILE] */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, data: Option[File], cores: Int,
      goldens: Option[File], record: Option[File])

  /** Registered-query modules, named as in the source tree. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Aggregates" -> graft.ops.Aggregates.queries.keySet,
    "Analytics" -> graft.ops.Analytics.queries.keySet,
    "Joins" -> graft.ops.Joins.queries.keySet,
    "WindowOps" -> graft.ops.WindowOps.queries.keySet,
    "SetOps" -> graft.ops.SetOps.queries.keySet,
    "Scalars" -> graft.ops.Scalars.queries.keySet,
    "Streams" -> graft.streaming.Streams.queries.keySet,
    "TextOps" -> graft.ops.TextOps.queries.keySet,
    "Dedup" -> graft.llm.Dedup.queries.keySet,
    "Similarity" -> graft.llm.Similarity.queries.keySet,
    "Clustering" -> graft.llm.Clustering.queries.keySet,
    "TextAnalysis" -> graft.llm.TextAnalysis.queries.keySet,
    "Multimodal" -> graft.llm.Multimodal.queries.keySet)

  /** `relational` runs the first query, in name order, of each of these
    * modules: all seven are in every pass, and a run, warm-up included,
    * stays near half a minute. */
  val RelationalModules: Seq[String] = Seq("Aggregates", "Analytics", "Joins",
    "WindowOps", "SetOps", "Scalars", "Streams")

  /** `llm_pipeline`: queries from each group of the pipeline, by the layer
    * the group stresses. */
  val LoopHeavy: Seq[String] = Seq("q_embed_pca")
  val StandingConsumers: Seq[String] = Seq("q_knn_ivf", "q_knn_sq8_adc", "q_maxsim")
  val OnePass: Seq[String] = Seq("q_dedup_exact")
  val Codecs: Seq[String] = Seq("q_multimodal_decode_png")
  val LlmPipeline: Seq[String] = LoopHeavy ++ StandingConsumers ++ OnePass ++ Codecs
  /** The IndexStore consumer whose artifact build `llm_pipeline` set-up times. */
  val SetupBuild = "q_knn_ivf"

  /** Search sizing: 64 dirs of ~1k entries; needles per pass (one common,
    * one rare, one absent). */
  val SearchDirs = 64
  val SearchMeanEntries = 1000
  val SearchPool = 30000
  val SearchNeedles = 3

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  def moduleOf(query: String): String =
    Modules.collectFirst { case (m, qs) if qs(query) => m }
      .getOrElse(sys.error(s"$query is in no module"))

  def main(args: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cfg = parse(args)
    val result = new Bench(cfg, jvmStartS).run()
    println(result)
    System.out.flush()
    sys.exit(0)
  }

  private def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), kv.get("data").map(new File(_)),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("goldens").map(new File(_)), kv.get("record").map(new File(_)))
  }

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(cfg.work, "warehouse").getPath)
      .config("spark.local.dir", new File(cfg.work, "local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Files and bytes under `dir`, keyed by relative path. */
  def census(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else {
      val root = dir.toPath
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Published IndexStore artifacts: directories holding a `_SUCCESS`. */
  def artifacts(files: Map[String, Long]): Set[String] =
    files.keySet.filter(_.endsWith("_SUCCESS")).map(_.stripSuffix("_SUCCESS"))

  /** A JSON number. A latency that is infinite because its op failed prints
    * as 1e12 ms, beyond any real one. */
  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "1.0E12" else java.lang.Double.toString(v)
}

/** One benchmark run. */
final class Bench(cfg: Main.Config, jvmStartS: Double) {
  import Main._

  private val rng = new Random(cfg.seed)
  private val indexDir = new File(cfg.work, "index")
  private val goldens: Map[String, String] = cfg.goldens.filter(_.exists).map { f =>
    Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t"); k -> v }.toMap
  }.getOrElse(Map.empty)
  private val recorded = mutable.Map[String, mutable.Set[String]]()

  private def dataDir: String =
    cfg.data.getOrElse(sys.error(s"${cfg.workload} needs --data")).getPath

  private def golden(name: String): Digest => Boolean = d =>
    if (cfg.record.isDefined) {
      recorded.getOrElseUpdate(name, mutable.Set()) += d.key; true
    } else goldens.get(name).contains(d.key)

  private def registered(names: Seq[String]): IndexedSeq[Op] = {
    val qs = SparkEntry.queries
    names.toIndexedSeq.map { n =>
      val fn = qs.getOrElse(n, sys.error(s"$n is not registered"))
      Op(n, moduleOf(n), s => fn(s, dataDir), golden(n))
    }
  }

  private def workload(): Workload = cfg.workload match {
    case "search" => search()
    case "relational" =>
      val ops = registered(Modules.collect {
        case (m, qs) if RelationalModules.contains(m) => qs.min })
      Workload(ops, ops, _ => (), nominalPassS = 5)
    case "llm_pipeline" =>
      // The one-time build: constructing an IndexStore consumer builds its
      // artifacts, from an empty index dir on every set-up. The warm-up
      // pass builds the rest, so the timed phase only loads.
      val ops = registered(LlmPipeline)
      Workload(ops, ops, s => SparkEntry.queries(SetupBuild)(s, dataDir), nominalPassS = 5)
    case w => sys.error(s"unknown workload $w")
  }

  private def search(): Workload = {
    val t = System.nanoTime()
    val tree = SearchTree.generate(new File(cfg.work, "tree"), cfg.seed,
      SearchDirs, SearchMeanEntries, SearchPool, SearchNeedles)
    System.err.println(f"[perfbench] search tree: ${tree.listing.length} entries in " +
      f"${tree.dirs.length} dirs, made in ${(System.nanoTime() - t) / 1e9}%.1f s")
    val schema = StructType(Seq(StructField("name", StringType)))
    val paths = tree.dirs.mkString(",")
    val ops = tree.needles.flatMap { needle =>
      val want = Checksum.of(schema, tree.expected(needle)
        .map(n => InternalRow(UTF8String.fromString(n))))
      val check = (d: Digest) => d == want
      IndexedSeq(
        Op(s"mapreduce:$needle", "core.MapReduce", s => graft.clients.Search
          .viaMapReduce(graft.sources.DirListing.listed(
            s.createDataset(tree.dirs)(Encoders.STRING)), needle).toDF(), check),
        Op(s"dirlisting:$needle", "sources.DirListing", s => graft.clients.Search
          .dataframe(graft.sources.DirListing(s, tree.dirs), "dir", "name", needle),
          check),
        Op(s"listingsource:$needle", "sources.ListingSource", s => graft.clients.Search
          .dataframe(s.read.format(classOf[graft.sources.ListingSource].getName)
            .option("paths", paths).load(), "dir", "name", needle), check))
    }
    // Every needle runs the same three plans, so the first needle warms them.
    Workload(ops, ops.take(3), _ => (), nominalPassS = 5)
  }

  private def runOp(spark: SparkSession, op: Op, pass: Int): OpRecord = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var t2 = -1L
    val (ok, err) =
      try {
        val df = op.build(spark)
        t1 = System.nanoTime()
        val plan = Checksum.plan(df)
        t2 = System.nanoTime()
        val d = Checksum.execute(df, plan)
        if (op.check(d)) (true, None) else (false, Some(s"wrong checksum ${d.key}"))
      } catch {
        case NonFatal(e) => (false, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    val t3 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (t1 < 0) t1 = t3
    if (t2 < 0) t2 = t3
    spark.catalog.clearCache()
    err.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: ${e.take(300)}"))
    System.err.println(f"[perfbench] op pass=$pass ${op.name} construct_ms=${(t1 - t0) / 1e6}%.1f " +
      f"plan_ms=${(t2 - t1) / 1e6}%.1f exec_ms=${(t3 - t2) / 1e6}%.1f ok=$ok")
    OpRecord(pass, op.name, op.module, startMs, endMs, t0, t1, t2, t3, ok)
  }

  def run(): String = {
    cfg.work.mkdirs()
    val w = workload()

    // Set-up, repeated: session start plus the one-time builds, each time
    // from an empty index dir. Only the last session is kept.
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer[Double]()
    for (_ <- 1 to SetupReps) {
      if (spark != null) {
        graft.llm.Similarity.releaseStandingIndexes()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      deleteRec(indexDir)
      val t = System.nanoTime()
      spark = session(cfg)
      w.setup(spark)
      setupS += (System.nanoTime() - t) / 1e9
    }

    val recorder = if (cfg.trace) {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None

    // Warm-up pass: checked, untimed.
    val ops = mutable.ArrayBuffer[OpRecord]()
    def pass(p: Int, batch: IndexedSeq[Op]): Double = {
      val t = System.nanoTime()
      rng.shuffle(batch).foreach(op => ops += runOp(spark, op, p))
      (System.nanoTime() - t) / 1e6
    }
    val warmupMs = pass(0, w.warmup)
    val beforeTimed = census(indexDir)
    val phaseMs = (1 to w.passes(cfg.seconds)).map(p => pass(p, w.ops)).sum
    val afterTimed = census(indexDir)

    val heapMb = retainedHeapMb()

    val timed = ops.filter(_.pass > 0).toIndexedSeq
    val slowestOk = (0.0 +: ops.filter(_.ok).map(_.wallMs)).max
    val wallMs = Stats.chargedWallMs(phaseMs, timed, slowestOk)
    val latencies = timed.map(Stats.latencyMs)
    val (tailMs, tailPct) = Stats.tail(latencies)
    val failed = ops.count(!_.ok)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()

    if (!cfg.trace) {
      metrics("setup_s") = (jvmStartS + Stats.median(setupS.toSeq), "s")
      metrics("wall_s") = (wallMs / 1e3, "s")
      metrics("op_p50_ms") = (Stats.median(latencies), "ms")
      metrics("op_tail_ms") = (tailMs, "ms")
      metrics("ok_ratio") = (1.0 - Stats.failedRatio(ops.toSeq), "ratio")
      metrics("heap_retained_mb") = (heapMb, "MB")
    } else {
      val events = { org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        recorder.get.snapshot() }
      val sorted = ops.sortBy(_.startMs).toIndexedSeq
      val sparkOf = sorted.zip(Attribution.perOp(sorted, events))
        .filter(_._1.pass > 0).groupBy(_._1.pass).toSeq.sortBy(_._1).map(_._2)
      def perPass(f: Seq[(OpRecord, OpSpark)] => Double): Double =
        Stats.median(sparkOf.map(f))
      def add(name: String, unit: String)(f: Seq[(OpRecord, OpSpark)] => Double): Unit =
        metrics(name) = (perPass(f), unit)
      add("construct_ms", "ms")(_.map(_._1.constructMs).sum)
      add("plan_ms", "ms")(_.map(_._1.planMs).sum)
      add("exec_ms", "ms")(_.map(_._1.execMs).sum)
      for ((m, _) <- Modules) {
        def of(os: Seq[(OpRecord, OpSpark)]) = os.filter(_._1.module == m)
        add(s"$m.construct_ms", "ms")(of(_).map(_._1.constructMs).sum)
        add(s"$m.plan_ms", "ms")(of(_).map(_._1.planMs).sum)
        add(s"$m.exec_ms", "ms")(of(_).map(_._1.execMs).sum)
        add(s"$m.jobs", "count")(of(_).map(_._2.jobs.toDouble).sum)
      }
      metrics("Tables.resolve_ms") = (if (cfg.data.isEmpty) 0.0 else {
        val times = for (_ <- 1 to 3; t <- graft.Tables.names) yield {
          val t0 = System.nanoTime()
          graft.Tables(spark, dataDir, t)
          (System.nanoTime() - t0) / 1e6
        }
        Stats.median(times)
      }, "ms")
      add("spark.jobs", "count")(_.map(_._2.jobs.toDouble).sum)
      add("spark.stages", "count")(_.map(_._2.stages.toDouble).sum)
      add("spark.tasks", "count")(_.map(_._2.tasks.toDouble).sum)
      add("spark.job_active_ms", "ms")(_.map(_._2.jobActiveMs).sum)
      add("spark.driver_gap_ms", "ms")(_.map(o => o._1.wallMs - o._2.jobActiveMs).sum)
      add("spark.task_run_ms", "ms")(_.map(_._2.taskRunMs).sum)
      add("spark.task_cpu_ms", "ms")(_.map(_._2.taskCpuMs).sum)
      add("spark.gc_ms", "ms")(_.map(_._2.gcMs).sum)
      add("spark.deser_ms", "ms")(_.map(_._2.deserMs).sum)
      add("spark.sched_delay_ms", "ms")(_.map(_._2.schedDelayMs).sum)
      add("spark.core_busy_share", "ratio")(os =>
        os.map(_._2.taskRunMs).sum / (os.map(_._1.wallMs).sum * cfg.cores))
      add("spark.shuffle_read_bytes", "bytes")(_.map(_._2.shuffleRead).sum)
      add("spark.shuffle_write_bytes", "bytes")(_.map(_._2.shuffleWrite).sum)
      add("spark.spill_bytes", "bytes")(_.map(_._2.spill).sum)
      add("spark.input_bytes", "bytes")(_.map(_._2.input).sum)
      add("spark.output_bytes", "bytes")(_.map(_._2.output).sum)
      metrics("IndexStore.artifacts_built") = (artifacts(beforeTimed).size.toDouble, "count")
      metrics("IndexStore.bytes_written") = (beforeTimed.values.sum.toDouble, "bytes")
      val timedWrites = afterTimed.filter { case (k, v) => !beforeTimed.get(k).contains(v) }
      metrics("IndexStore.timed_bytes_written") = (timedWrites.values.sum.toDouble, "bytes")
      def path(m: String)(os: Seq[(OpRecord, OpSpark)]) = os.filter(_._1.module == m)
      add("core.run_ms", "ms")(path("core.MapReduce")(_).map(_._1.wallMs).sum)
      add("sources.DirListing.search_ms", "ms")(path("sources.DirListing")(_).map(_._1.wallMs).sum)
      add("sources.ListingSource.search_ms", "ms")(
        path("sources.ListingSource")(_).map(_._1.wallMs).sum)
      add("sources.DirListing.tasks", "count")(
        path("sources.DirListing")(_).map(_._2.tasks.toDouble).sum)
      add("sources.ListingSource.tasks", "count")(
        path("sources.ListingSource")(_).map(_._2.tasks.toDouble).sum)
      metrics("trace.wall_s") = (wallMs / 1e3, "s")
    }

    cfg.record.foreach { f =>
      val unstable = recorded.filter(_._2.size > 1).keys
      require(unstable.isEmpty, s"digest differs between passes: ${unstable.mkString(",")}")
      Files.write(f.toPath, recorded.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k\t${v.head}" }.asJava)
    }

    System.err.println(f"[perfbench] ${cfg.workload}: ${timed.length} timed ops in " +
      f"${w.passes(cfg.seconds)} passes of ${w.ops.length}; op_tail_ms is p$tailPct%.1f " +
      f"(${Stats.TailBeyond} of ${timed.length} timed ops beyond it), ${tailMs}%.1f ms; " +
      f"failed_ratio ${Stats.failedRatio(ops.toSeq)} ($failed of ${ops.length}); " +
      f"set-ups ${setupS.map(x => f"$x%.2f").mkString(",")} s after ${jvmStartS}%.2f s of JVM " +
      f"start; warm-up ${warmupMs / 1e3}%.1f s; timed phase ${phaseMs / 1e3}%.1f s")
    graft.llm.Similarity.releaseStandingIndexes()
    spark.stop()

    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${json(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${ops.length}, "failed": $failed, "metrics": {$ms}}"""
  }

  /** JVM heap still reachable after full GCs. Spark's cleaner frees
    * broadcast and shuffle state asynchronously once their owners are
    * collected, so GC runs until the figure stops falling. */
  private def retainedHeapMb(): Double = {
    def afterGc(): Long = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }
    var prev = afterGc()
    var cur = afterGc()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 8) { prev = cur; cur = afterGc(); rounds += 1 }
    cur / 1048576.0
  }

  private def deleteRec(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete()
  }
}
