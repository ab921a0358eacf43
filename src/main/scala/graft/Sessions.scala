package graft

import org.apache.spark.sql.SparkSession

/** Single place where SparkSessions are configured, so table accessors and
  * operators stay pure (no `spark.conf.set` side effects at query time).
  *
  * Local harness sizing: `local[cpus]` with `shuffle.partitions == cpus` —
  * on a real cluster the same code runs with executor-count-scaled shuffle
  * partitions; nothing here hard-codes local mode semantics.
  */
object Sessions {

  /** Size of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`).
    * It is a static conf: it sizes the one JVM-wide cache of compiled
    * classes, keyed by generated source and by the compiling thread's class
    * loader (driver and task threads differ, so one stage can take two
    * entries). At Spark's default of 100 one process of this program never
    * ran warm: every trigger and every pass evicted classes it had compiled
    * before and compiled them again — 28–168 compiles (0.26–1.69 s of
    * compile time) per timed `cdc_replay_stream` trigger, 369 and 428 per
    * timed `batch_query_mix` pass (perfbench seed 7, traced, 4 vCPU; the
    * breakdown is `CODEGEN.json`). Warm working sets, the entries one
    * process compiles when nothing is evicted: 303 for a traced
    * `cdc_replay_stream` run (both engines), 376 for `batch_query_mix`, and
    * 1,844 for `graft.Bench`'s sweep of all queries at sf0.1, the largest;
    * the cap is about twice that. The cache holds only what was compiled,
    * so headroom a workload does not use costs it nothing.
    */
  val CodegenCacheEntries = 4096

  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      // SQL-surface registration of the native vector expressions
      .withExtensions(graft.functions.VectorFunctions.register)
      // ... and the KMV sketch aggregate: SELECT kmv(hv, 64) ... GROUP BY
      .withExtensions(graft.functions.KmvSketch.register)
      // ... and Unicode NFC: SELECT nfc_normalize(text)
      .withExtensions(graft.functions.TextNormalize.register)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); see Tables.eventsRaw
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Whole-stage classes are named after their codegen stage id, which
      // AQE assigns per (re-)plan, so the same stage code under another id
      // missed the cache and compiled again. Without the id, identical code
      // is one cache entry.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // set file permissions in-process instead of forking `chmod` per file
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // ... also for FileContext writers: Structured Streaming checkpoints
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFileSystem.Fs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
