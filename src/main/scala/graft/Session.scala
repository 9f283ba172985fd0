package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{ForkFreeFileSystem, ForkFreeFs}

/** One place to build a scale-tuned session. On a real cluster the
  * same settings apply with shuffle.partitions sized to ~2-3x total
  * cores; locally we match the thread count so no partition is
  * starved or wastefully tiny.
  *
  * Spark keeps compiled generated classes in one JVM-wide LRU cache
  * (`spark.sql.codegen.cache.maxEntries`, 100 entries by default). One
  * cold pass of all 386 `SparkEntry.queries` plus the six `Streams`
  * twins compiles 4403 distinct classes, and one pass of either
  * benchmark workload already compiles about 150–180, so at the default
  * every pass evicts and recompiles its own classes. At
  * [[CodegenCacheEntries]] a class is compiled once per process and
  * reused by every later query, micro-batch and bench repetition. The
  * cache is a static conf sized at the JVM's first compile, so it has to
  * be set here, before `getOrCreate()`. A hit needs identical generated
  * source, so results do not change.
  *
  * Without Hadoop's native library (the Spark distribution ships none)
  * its stock local filesystem forks `chmod` for every file it creates
  * and `readlink` twice for every FileContext rename: 2332 child
  * processes in one 15 s `ohlcv_metrics` benchmark run, most of them
  * from streaming checkpoint and state-store commits, which then took
  * 1.6 s of each traced pass (0.14 s without the forks). `file:` paths
  * therefore resolve to [[graft.sources.ForkFreeFileSystem]] and
  * [[graft.sources.ForkFreeFs]], which do those two calls in-process and
  * keep checksums, modes, rename semantics and symlinks. A session built
  * without these settings (or a `file:` FileSystem that Hadoop cached
  * before this session existed) forks again.
  */
object Session {
  /** The measured working set, 4403 classes at sf0.01 and 4456 at
    * sf0.1, with headroom. Holding it costs about 40 MB of metaspace.
    */
  val CodegenCacheEntries: Int = 8192

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
