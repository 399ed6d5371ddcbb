package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine confs every graft session needs — session
  * configuration belongs at BUILD time, not inside query functions
  * (a query mutating session conf is global, order-dependent state).
  *
  *  - `nanosAsLong`: an events.parquet written with TIMESTAMP(NANOS)
  *    (older generator versions) cannot be read natively by Spark 4;
  *    the conf reads it as raw epoch-nanos LongType, which keeps
  *    arithmetic exact (ns epochs exceed 2^53, so doubles would
  *    corrupt them). Harmless for the current micros files —
  *    Relational.eventsRaw normalizes either form to nanos-long.
  *  - UTC: date/timestamp functions must agree with the DuckDB oracle.
  *  - shuffle.partitions sized to the local core count (not the 200
  *    default) — on a real cluster this is AQE + explicit tuning.
  *  - `codegen.cache.maxEntries` 1024 (default 100): Spark's cache of
  *    compiled generated classes is keyed by (context classloader,
  *    source), so a stage's driver-side and task-side compiles are two
  *    entries. One curate pass over the document pipeline compiles 96
  *    distinct sources but keeps about 190 entries live; Guava splits
  *    the default 100 into 4 LRU segments of about 25, so every lookup
  *    in a warm pass missed and recompiled (88 classes, about 0.9 s
  *    of a 4.3 s pass). 1024 gives about 5× headroom per segment
  *    against that working set; it does not hold the whole query
  *    registry across `graft.Bench` passes. The cache is JVM-wide and sized
  *    ONCE, when the first compile initializes `CodeGenerator`: a
  *    session built any other way, if it compiles first, leaves the
  *    JVM at 100.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bucketed-table writes (GraftIO.writeBucketed) land under
      // target/, not a spark-warehouse dir at the repo root
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/warehouse").getAbsolutePath)
}
