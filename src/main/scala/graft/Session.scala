package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: every main and the test base build
  * their session here and add only their own documented `.config` on
  * top (Bench: cleaner off).
  */
object Session {

  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the JVM-wide generated-class cache defaults to 100 entries; a
    // ~200-entry catalog swept in interleaved order (r8 fix for
    // session-noise robustness) evicts EVERY query's classes between
    // its own repeats, so each timed run re-pays single-threaded
    // Janino compilation (~1-2 s flat per query — the r8/r9 "uniform
    // regression" vs the back-to-back-recorded baseline). Size it to
    // hold the whole catalog so timed runs measure execution, not
    // recompilation.
    .config("spark.sql.codegen.cache.maxEntries", "8192")
    // that cache is keyed by the generated source, which by default
    // names each class after its whole-stage codegen stage id; AQE
    // numbers those stages in the order it plans query stages, which
    // moves between runs of the same plan, so a warm rep recompiled
    // classes whose code was byte-identical (119.6 compiles per warm
    // rep over the catalog at sf0.001)
    .config("spark.sql.codegen.useIdInClassName", "false")
    // older testdata generations store events.ts as INT64
    // TIMESTAMP(NANOS), which Spark's parquet reader rejects unless it
    // reads them as longs; Tables.events converts those to micros
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
