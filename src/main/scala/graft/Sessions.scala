package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session construction for every entry point (Bench, Verify,
  * the test JVM, profiling tools), so engine-level session tuning is a
  * one-line change instead of a copy-paste hunt.
  *
  * The non-obvious confs and why they are SESSION construction, not
  * per-query side effects:
  *
  *  - `parquet.inferTimestampNTZ.enabled=false`: a micros timestamp column
  *    reads as TIMESTAMP (LTZ) whose `unix_micros` are the stored values
  *    verbatim — no session-timezone dependence, bit-identical to DuckDB's
  *    read of the same file for the oracle compare. Setting it here (and
  *    not only inside the events loader) keeps every table's column types
  *    independent of QUERY ORDER within a session — a loader-side set
  *    would flip lineitem/orders timestamps from NTZ to LTZ at whatever
  *    moment the first events query runs.
  *
  *  - `adaptive.coalescePartitions.minPartitionSize=16k`: AQE coalescing
  *    is byte-based (`parallelismFirst` floors at 1 MB); this engine's
  *    pipeline shuffles are CPU-dense per byte, so a 700 KB candidate-pair
  *    shuffle was coalescing to ONE task and serializing a whole
  *    exact-verify stage (q73 ran 43 s with 8 s and 15 s single-task
  *    stages; 2.5 s once the floor admits 32-way reads). Byte-tiny
  *    shuffles still coalesce; at production scale shuffles dwarf either
  *    floor.
  */
object Sessions {
  def local(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // r17 (guide §1.2 step 3, measured first): the generated-code
      // compile cache is STATIC and defaults to 100 entries — this
      // engine's 209-query suite holds thousands of distinct codegen
      // units, so a round-robin pass evicted everything and re-Janino'd
      // the whole suite every iteration (CodegenProbe, 86-query subset:
      // pass 2 recompiled 1 803 of 2 230 units). Sized for a many-query
      // analytics service, env-overridable; metaspace cost is bounded
      // (generated classes are small) and irrelevant beside a 32g heap.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))
      // r17 set spark.sql.streaming.checkpoint.fileChecksum.enabled=false
      // HERE, process-wide — r18 (VERDICT r17 #7) moved that polarity to
      // the checkpoint-creation sites (graft.streaming.Events.drainSession):
      // ephemeral per-invocation drain checkpoints run without the Spark
      // 4.1 checksum sidecars, while this factory keeps Spark's default
      // (checksums ON), so a durable checkpoint built on it never silently
      // loses corruption detection.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child of `spark` (`newSession()`: same SparkContext, fresh SQL conf
    * and catalog) whose jobs run on the executor's shared classloader.
    *
    * Spark 4.1 keys its generated-code cache on (classloader, code), and
    * while `spark.sql.artifact.isolation.enabled` is at its default `true`
    * the executor builds one classloader per session UUID. A fresh child
    * per MR job or per streaming drain therefore recompiled every
    * generated class on every call: 9 classes per warm word-count job,
    * 25 per warm q82 drain, identical bodies each time. graft adds no
    * session artifacts (jars, files, classes), so isolation buys nothing.
    * The conf must be set before the child's first execution: the
    * session's artifact state is computed once, lazily.
    *
    * The fix sits at the fork, not in [[local]]: callers that build their
    * own `SparkSession` (`MrDemo`, library users) reach the same forks.
    * Every graft-internal `newSession()` goes through here.
    */
  def child(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.artifact.isolation.enabled", "false")
    ss
  }
}
