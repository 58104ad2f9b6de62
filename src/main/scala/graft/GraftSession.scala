package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SessionShim

/** The one place that decides how a graft Spark session is built, how a
  * row runs with a pinned conf, where a row stages files, and what is
  * released after a row. Bench, Verify, Scale, Explain and the test
  * session all build through here, so the config that is tested is the
  * config that is benched. */
object GraftSession {
  /** A `local[cpus]` session with graft's config (`getOrCreate`: an
    * existing session is returned, and only the runtime SQL confs below
    * reach it). */
  def create(cpus: String): SparkSession = {
    // driver-side java.sql.Timestamp conversions must agree with the
    // session time zone below
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // KQL fidelity: failed casts yield null, not errors (SURVEY §7.4)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // fixture events.ts is TIMESTAMP(NANOS); read as long + normalize
      // in graft.kql.Catalog
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // session-build extensions hook: graft_* SQL functions (the
      // tmp_extensions_sql driver row proves the injection end-to-end)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Kryo for the one RDD path (connected components): Tuple2[Long,
      // Long] shuffle rounds are ~2x cheaper than Java serialization;
      // DataFrame shuffles (Tungsten UnsafeRow) are unaffected
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // 163 queries x many codegen'd stages blow through the default
      // 100-entry generated-class cache, so later queries (and every
      // pass-2 rerun) pay full JIT again — the main source of the
      // in-bench-vs-standalone gap on the heavy rows
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
  }

  /** Runs `body` on a clone of `s` with `conf` set on the clone, as the
    * thread's active session. `s`'s own conf is never written, so two
    * rows sharing `s` cannot see each other's overrides. The clone
    * shares `s`'s tables and caches; temp views (memory sinks) made in
    * the clone stay in it, and a frame `body` returns runs under the
    * clone's conf. */
  def pinned[A](s: SparkSession, conf: (String, String)*)(body: SparkSession => A): A = {
    val clone = SessionShim.cloneSession(s)
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    SessionShim.withActive(clone)(body(clone))
  }

  /** Frees what a row leaves behind in `s`'s SparkContext: DataFrame
    * caches, every persisted RDD, and the library's persist-tracking
    * queue (its blocks are freed by then; draining it frees the plan
    * references it retains). clearCache() alone misses RDD-level
    * persists (the CC loop's localCheckpoint blocks), which only
    * ContextCleaner GC would reclaim — on a large heap almost never — so
    * over a long pass the leaked blocks squeeze execution memory (r5
    * verdict: llm_pipeline_v2 4.8→19.2 s in bench pass 2). Also deletes
    * every [[scratch]] directory handed out since the last release. */
  def release(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.ext.LlmOps.releaseCaches()
    deleteScratch()
  }

  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // a caller that never releases (an application embedding the engine)
  // still leaves nothing behind once the JVM exits
  sys.addShutdownHook(deleteScratch())

  /** A fresh, empty directory under `java.io.tmpdir` for a row's staging
    * files (an index, a stream's checkpoint, a layout's output), unique
    * to this call so no two rows or runs share one. [[release]] deletes
    * every directory handed out since the last release, so a row's
    * result must be consumed before the release that follows it. */
  def scratch(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${name}_").toFile
    scratchDirs.add(dir)
    dir.getPath
  }

  private def deleteScratch(): Unit =
    Iterator.continually(scratchDirs.poll()).takeWhile(_ != null)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
}
