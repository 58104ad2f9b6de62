package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set-up (three times, median reported by
  * run.py), warm-up, the timed window, the untimed digest pass, and
  * a JSON result file. One client thread drives one session in a closed
  * loop: the next operation starts only after the previous one returns.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cores C --data DIR --work DIR --out FILE
  *   graftbench.Main --record FILE --data DIR --work DIR --cores C   (goldens)
  */
object Main {
  final case class Rec(id: Int, key: String, family: String, kind: String,
                       tag: String, phase: String, startNs: Long, endNs: Long,
                       error: Option[String], cachedBytes: Long, persistedRdds: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a.getOrElse("cores", "4")
    val data = a("data")
    val work = a("work")
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    a.get("record") match {
      case Some(file) => record(file, data, work, cores, a.get("workload"))
      case None => run(Workloads.byName(a("workload")), a("seed").toLong,
        a("seconds").toDouble, a("trace") == "1", cores, data, work, a("out"))
    }
  }

  /** Session config is `graft.Bench`'s. */
  def session(cores: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops what an operation left cached, as `graft.Bench` does between
    * rows. */
  def clearAll(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.ext.LlmOps.releaseCaches()
  }

  def storageUsed(s: SparkSession): Long =
    s.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)}"

  final class Runner(ctx: Ctx, probe: Option[SparkProbe]) {
    val recs = ArrayBuffer[Rec]()
    private var nextId = 0
    def tr: Tracer = ctx.tr

    /** Runs one operation; a throw is recorded as the failure and the
      * operation contributes no time. */
    def exec(op: Op, phase: String): Rec = {
      val id = nextId
      nextId += 1
      tr.opId = id
      val t0 = System.nanoTime()
      val err = try {
        tr.span("op") {
          val frames = op.body(ctx)
          if (phase == "timed" && op.kind == "query" && keep(op.key) && !kept.contains(op.key))
            kept(op.key) = frames
          if (frames.nonEmpty) tr.span("exec") {
            frames.foreach(_._2.write.format("noop").mode("overwrite").save())
          }
        }
        None
      } catch {
        case e @ (NonFatal(_) | _: StackOverflowError) => Some(describe(e))
      }
      val t1 = System.nanoTime()
      val cached = storageUsed(ctx.spark)
      val rdds = ctx.spark.sparkContext.getPersistentRDDs.size
      tr.span("cleanup") { clearAll(ctx.spark) }
      probe.foreach(_ => tr.span("trace") { org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext) })
      val r = Rec(id, op.key, op.family, op.kind, op.tag, phase, t0, t1, err, cached, rdds)
      recs += r
      r
    }

    /** Frames of the first timed run of each query key `keep` selects. */
    var keep: String => Boolean = _ => false
    val kept = scala.collection.mutable.LinkedHashMap[String, Seq[(String, DataFrame)]]()

    def digest(frames: => Seq[(String, DataFrame)]): String = {
      val d = Digest.describeOf(frames)
      clearAll(ctx.spark)
      d
    }
  }

  private def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** Runs `f` over `xs` on four threads and waits for all of them. */
  private def inParallel[A](xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Digests of the frames each thunk builds, taken on four threads and
    * stored into `out` in the given order. */
  private def inParallelTo(out: scala.collection.mutable.Map[String, String],
                           jobs: Seq[(String, () => Seq[(String, DataFrame)])]): Unit = {
    val got = new java.util.concurrent.ConcurrentHashMap[String, String]()
    inParallel(jobs) { case (k, frames) => got.put(k, Digest.describeOf(frames())) }
    jobs.foreach { case (k, _) => out(k) = got.get(k) }
  }

  private def rssPeakMb(): Double =
    try {
      val l = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  /** Heap in use after full GCs; the least of three readings, since
    * Spark's cleaner threads release references between collections. */
  private def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** (bytes at rest, files modified since `sinceMs`, bytes in those
    * files) under the run's work directory: warehouse tables, index
    * directories and the engine's staging under java.io.tmpdir — not
    * Spark's shuffle and block-manager files, and not the JVM log. */
  private def dirStats(work: String, sinceMs: Long): (Long, Long, Long) = {
    var total = 0L; var nNew = 0L; var bNew = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        total += f.length()
        if (f.lastModified() >= sinceMs) { nNew += 1; bNew += f.length() }
      }
    Option(new java.io.File(work).listFiles()).getOrElse(Array.empty[java.io.File])
      .filterNot(f => f.getName == "local" || f.getName == "jvm.log").foreach(walk)
    (total, nNew, bNew)
  }

  def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, cores: String,
          data: String, work: String, out: String): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStartMs = System.currentTimeMillis()
    // three set-ups: a session (the first also starts the SparkContext and
    // pays the JVM start before main()), the fixtures, one query
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      spark = if (spark == null) session(cores, work) else spark.newSession()
      ctx = new Ctx(spark, new Tracer(false), data, work)
      wl.open(ctx)
      new Runner(ctx, None).exec(wl.ping, "setup").error.foreach(e =>
        throw new IllegalStateException(s"set-up operation failed: $e"))
      setups += (System.nanoTime() - t0) / 1e9 + (if (i == 0) (mainStartMs - jvmStartMs) / 1e3 else 0.0)
    }
    val tracer = new Tracer(traced)
    ctx = new Ctx(spark, tracer, data, work)
    val probe = if (traced) Some(new SparkProbe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      p.installFallbackCounter()
      Sampler.start(Thread.currentThread())
    }
    val runner = new Runner(ctx, probe)
    val digests = scala.collection.mutable.LinkedHashMap[String, String]()

    // untimed: warm-up and the state the window reads, then the digests
    // of what the window will only repeat
    val warmStart = System.nanoTime()
    tracer.opId = -1
    // both passes run on four threads, outside any span (only the JVM's
    // warm-up and the digests come out of them)
    val quiet = new Ctx(spark, new Tracer(false), data, work)
    inParallel(wl.prepare(quiet)) { op =>
      try op.body(quiet).foreach(_._2.write.format("noop").mode("overwrite").save())
      catch { case NonFatal(_) => () } // the window records failures
    }
    inParallelTo(digests, wl.verifyBefore(seed).map(op => op.key -> (() => op.body(quiet))))
    clearAll(spark)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed window: whole rounds until `seconds` have passed and enough
    // queries ran for a p75 tail (ten samples beyond it)
    val round = wl.rounds(seed)
    ctx.tokens = 0L
    ctx.tables = 0L
    runner.keep = k => !digests.contains(k)
    val w0 = System.nanoTime()
    var r = 0
    def queries = runner.recs.count(x => x.phase == "timed" && x.kind == "query")
    while (r == 0 || System.nanoTime() - w0 < (seconds * 1e9).toLong || queries < minQueries) {
      round(r).foreach { op =>
        val rec = runner.exec(op, "timed")
        if (traced && op.kind == "write") tracer.span("trace") {
          val (_, n, b) = dirStats(work, tracer.nsToMs(rec.startNs))
          writeStats(rec.id) = (n, b)
        }
      }
      r += 1
    }
    val w1 = System.nanoTime()
    val (tokens, tables) = (ctx.tokens, ctx.tables)
    val storageLeft = storageUsed(spark)
    val retained = retainedHeapMb()

    // untimed digests of the queries the window sent unseen, on the very
    // frames it materialized, then of the state its writes left at rest
    tracer.opId = -1
    inParallelTo(digests, runner.kept.toSeq.map { case (k, frames) => k -> (() => frames) })
    inParallelTo(digests, wl.state(ctx).map { case (k, df) => k -> (() => Seq("result" -> df())) })
    clearAll(spark)
    val stored = dirStats(work, Long.MaxValue)._1
    val rss = rssPeakMb()

    val timed = runner.recs.filter(_.phase == "timed")
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "traced" -> traced,
      "cores" -> cores.toInt,
      "setup_s" -> setups.toSeq, "warm_s" -> warmS, "first_op_s" -> firstOpS,
      "window_s" -> (w1 - w0) / 1e9, "rounds" -> r,
      "peak_rss_mb" -> rss, "retained_heap_mb" -> retained,
      "storage_left_bytes" -> storageLeft, "stored_bytes" -> stored,
      "input_bytes" -> inputBytes(data, wl),
      "tokens" -> tokens, "tables" -> tables,
      "ops" -> timed.map(x => scala.collection.mutable.LinkedHashMap[String, Any](
        "id" -> x.id, "key" -> x.key, "family" -> x.family, "kind" -> x.kind,
        "tag" -> x.tag, "ms" -> (x.endNs - x.startNs) / 1e6, "error" -> x.error,
        "cached_bytes" -> x.cachedBytes, "persisted_rdds" -> x.persistedRdds)),
      "digests" -> digests)
    probe.foreach { p =>
      Sampler.stop()
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      result("spans") = attribute(tracer, p, timed.toSeq)
      result("counters") = counters(tracer, p, timed.toSeq)
    }
    spark.stop()
    val f = new java.io.File(out)
    java.nio.file.Files.write(f.toPath, json(result).getBytes("UTF-8"))
  }

  private val writeStats = scala.collection.mutable.Map[Int, (Long, Long)]()
  private val minQueries = 40

  /** Size of the fixture files the at-rest writes read (the base of the
    * write- and space-amplification ratios). */
  private def inputBytes(data: String, wl: Workload): Long = wl match {
    case BatchIndex =>
      Seq("documents", "embeddings", "events")
        .map(t => new java.io.File(s"$data/sf0.01/$t.parquet").length()).sum
    case _ => 0L
  }

  /** Adds the inferred child spans (Catalyst phases from the query
    * executions, codegen compile time, sampled sub-layers of opaque
    * calls) and returns every span of the timed operations, their
    * cleanup and trace spans included, as [name, start_ns, end_ns,
    * parent, op]. */
  private def attribute(tr: Tracer, p: SparkProbe, timed: Seq[Rec]): Seq[Seq[Any]] = {
    val timedIds = timed.map(_.id).toSet
    val real = tr.spans.indices.filter(i => timedIds(tr.spans(i).op))
    // Catalyst phases, inside the innermost span that contains their start
    p.qes.foreach { q =>
      q.phases.foreach { case (name, st, en) =>
        val ns = tr.msToNs(st)
        val op = timed.find(r => r.startNs <= ns && ns <= r.endNs).map(_.id)
        op.foreach { id =>
          val i = tr.innermost(id, ns)
          if (i >= 0) tr.synth(s"catalyst.$name", i, (en - st) * 1000000L)
        }
      }
    }
    // codegen: compile time that ran inside each real span but not inside
    // its real children
    real.foreach { i =>
      val s = tr.spans(i)
      if (s.name != "cleanup" && s.name != "trace") {
        val kids = real.filter(j => tr.spans(j).parent == i)
        val own = (s.compile1 - s.compile0) - kids.map(j => tr.spans(j).compile1 - tr.spans(j).compile0).sum
        if (own > 0) tr.synth("codegen", i, own)
      }
    }
    // sampled sub-layers of opaque spans
    real.foreach { i =>
      val s = tr.spans(i)
      if (tr.opaque(s.name)) {
        val samples = Sampler.between(s.start, s.end)
        if (samples.nonEmpty) {
          val kids = tr.spans.indices.filter(j => tr.spans(j).parent == i)
          val self = (s.end - s.start) - kids.map(j => tr.spans(j).end - tr.spans(j).start).sum
          samples.groupBy(_._2).foreach { case (layer, xs) =>
            if (layer.nonEmpty && layer != s.name)
              tr.synth(layer, i, self * xs.length / samples.length)
          }
        }
      }
    }
    val keep = tr.spans.indices.filter(i => timedIds(tr.spans(i).op))
    val pos = keep.zipWithIndex.toMap
    keep.map { i =>
      val s = tr.spans(i)
      Seq(s.name, s.start, s.end, pos.getOrElse(s.parent, -1), s.op)
    }
  }

  /** Spark-side counts per timed operation; jobs are matched to the
    * operation and to the layer span they were submitted from by time. */
  private def counters(tr: Tracer, p: SparkProbe, timed: Seq[Rec]): Seq[Any] = {
    val fb = p.fallbacks.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
    timed.map { r =>
      val jobs = p.jobs.filter { j => val ns = tr.msToNs(j.timeMs); ns >= r.startNs - 1000000L && ns <= r.endNs }
      val stages = jobs.flatMap(_.stages).distinct
      val accs = stages.flatMap(p.stageAcc.get)
      def jobLayer(j: p.Job): String = {
        val ns = tr.msToNs(j.timeMs)
        val i = tr.innermost(r.id, ns)
        if (i < 0) "op"
        else {
          val s = tr.spans(i)
          if (tr.opaque(s.name)) {
            val near = Sampler.between(ns - 5000000L, ns + 5000000L)
              .filter(_._2.nonEmpty)
            if (near.isEmpty) s.name else near.minBy(x => math.abs(x._1 - ns))._2
          } else s.name
        }
      }
      val layers = jobs.map(jobLayer)
      val execJobs = jobs.zip(layers).collect { case (j, "exec") => j }
      val execTaskMs = execJobs.flatMap(_.stages).distinct.flatMap(p.stageAcc.get).map(_.runMs).sum
      val qes = p.qes.filter { q => val ns = tr.msToNs(q.timeMs); ns >= r.startNs && ns <= r.endNs }
      val (wf, wb) = writeStats.getOrElse(r.id, (0L, 0L))
      scala.collection.mutable.LinkedHashMap[String, Any](
        "id" -> r.id,
        "jobs" -> jobs.length,
        "jobs_by_layer" -> layers.groupBy(identity).view.mapValues(_.length).toMap,
        "stages" -> stages.count(p.stagesDone.contains),
        "tasks" -> accs.map(_.tasks).sum,
        "exec_task_ms" -> execTaskMs,
        "cpu_ms" -> accs.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> accs.map(_.gcMs).sum,
        "shuffle_write_bytes" -> accs.map(_.shufW).sum,
        "shuffle_read_bytes" -> accs.map(_.shufR).sum,
        "spill_bytes" -> accs.map(_.spill).sum,
        "input_bytes" -> accs.map(_.inBytes).sum,
        "input_records" -> accs.map(_.inRecs).sum,
        "files_read" -> qes.map(_.filesRead).sum,
        "codegen_classes" -> tr.spans.filter(s => s.op == r.id && s.parent == -1 && s.name == "op")
          .map(s => s.classes1 - s.classes0).sum,
        "codegen_fallbacks" -> fb.count { t => val ns = tr.msToNs(t); ns >= r.startNs - 1000000L && ns <= r.endNs },
        "files_written" -> wf,
        "bytes_written" -> wb)
    }
  }

  /** Records the golden digest of every operation any seed can produce. */
  def record(file: String, data: String, work: String, cores: String,
             only: Option[String]): Unit = {
    val spark = session(cores, work)
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    for (wl <- Workloads.all :+ SelfTest if only.forall(_ == wl.name)) {
      val ctx = new Ctx(spark, new Tracer(false), data, work)
      wl.open(ctx)
      val runner = new Runner(ctx, None)
      val d = scala.collection.mutable.LinkedHashMap[String, String]()
      val ops = wl.universe(ctx)
      // writes first: their state is what the probes and state digests read
      ops.filter(_.kind == "write").foreach(op => runner.exec(op, "record"))
      ops.filter(_.kind == "query").foreach(op => d(op.key) = runner.digest(op.body(ctx)))
      wl.state(ctx).foreach { case (k, df) => d(k) = runner.digest(Seq("result" -> df())) }
      if (wl == SelfTest) d("wrong") = "result=planted-wrong-digest"
      out(wl.name) = d
      System.err.println(s"[record] ${wl.name}: ${d.size} digests")
    }
    spark.stop()
    java.nio.file.Files.write(new java.io.File(file).toPath, json(out).getBytes("UTF-8"))
  }
}
