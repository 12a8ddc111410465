package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify, Bench, and tests agree.
  *
  * Scale notes: shuffle partitions default to the local core count (the
  * driver runs local[32]); on a real cluster this would be set to
  * executors*cores*2-3 or left to AQE coalescing, which is enabled here
  * and does the right thing in both worlds.
  */
object Sessions {

  def builder(master: String, cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      // the engine's Catalyst surface (custom expressions + optimizer
      // rules) is part of every session, exactly as a deployed cluster
      // would set spark.sql.extensions
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // (spark.sql.adaptive.coalescePartitions.parallelismFirst stays at
      // its default TRUE: an A/B panel of the 12 heaviest maintenance
      // queries showed `false` serializing CPU-dense small-byte stages —
      // q219's levenshtein blocking join regressed 7.7→9.1 s — and the
      // driver's low-core scaling run would lose its parallelism signal.)
      // DeltaStore/MorTable reads enumerate each live gbucket dir as an
      // explicit scan path; past 32 paths Spark launches a distributed
      // LISTING JOB per read (measured in the q224 profile: 20-48-task
      // listing jobs inside every maintenance fold). The store's dirs
      // each hold ~1 file, and driver-side listing of a local/HDFS-style
      // FS is microseconds per dir — raise the parallel-listing cutoff
      // so metadata stays a driver step, as every manifest-based table
      // format does. (An object-store deployment with thousands of live
      // prefixes per read would lower it again — that is what the knob
      // is for.)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // Plan-description strings are generated for EVERY execution and
      // re-generated on every AQE stage update (SparkListenerSQL*
      // events fire with spark.ui.enabled=false too). Gap-profiling the
      // maintenance folds showed generateTreeString / StringConcat /
      // SparkPlanInfo high in the no-job-running driver samples — pure
      // observability metadata for plans with hundreds of operators.
      // Cap the string length: diagnostics keep the plan HEAD, the
      // driver stops burning time rendering megabyte plan tails.
      .config("spark.sql.maxPlanStringLength", "8192")
      // events.parquet carries INT64 TIMESTAMP(NANOS) — see Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Without native Hadoop IO, the stock `file:` FileSystem forks a
      // `chmod` for every file and dir it creates: parquet parts, .crc
      // sidecars, _SUCCESS, committer task/job dirs, the stream's
      // landing files: 284 forks of 3-4 ms each in one q226 + q227
      // pass at sf0.1. graft.io.LocalFileSystem sets the same bits
      // through java.nio. The key binds only the `file:` scheme, so an
      // HDFS/S3 deployment never resolves it, and unlike the checkpoint
      // manager below it needs no master guard.
      .config("spark.hadoop.fs.file.impl", "graft.io.LocalFileSystem")
      // Generated code is cached per (thread context classloader,
      // source). With artifact isolation on, an executor builds one
      // classloader per session UUID, and StreamExecution runs every
      // started query on a session clone with a fresh UUID, so each
      // stream lifecycle runs under a new loader and recompiles
      // byte-identical code (28 classes per warm q227 execution). A
      // cluster executor pays the same. No code here adds session
      // artifacts (addArtifact, addJar) and the engine is no Spark
      // Connect server, so isolation guards nothing; per-session
      // artifacts, as under Spark Connect, would need it back on.
      .config("spark.sql.artifact.isolation.enabled", "false")
    // Local masters checkpoint streams to the local FS, where the default
    // FileContext-based manager FORKS a process per permission-carrying
    // call (no native Hadoop IO → Shell.runCommand `chmod`/`ls -ld`) on
    // the driver's per-micro-batch hot path: offset log, commit log,
    // state-store commits. The java.nio manager performs the same
    // operations as plain syscalls. Cluster deployments checkpoint to
    // HDFS/S3 and keep the default manager — hence the master guard.
    if (master.startsWith("local"))
      b.config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
    else b
  }

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietPlanTruncation()
    spark
  }

  /** The maxPlanStringLength cap above fires routinely by design, and
    * its per-truncation WARN would spam every bench/verify log. Drop
    * exactly that notice with a regex filter on its logger; every
    * other message of `catalyst.util.StringUtils` still passes at the
    * session's level. */
  private[graft] def quietPlanTruncation(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val name = "org.apache.spark.sql.catalyst.util.StringUtils"
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        val own = cfg.getLoggerConfig(name) match {
          case lc if lc.getName == name => lc
          case _ => // level null: inherit, so setLogLevel still governs it
            val lc = new LoggerConfig(name, null, true)
            cfg.addLogger(name, lc)
            lc
        }
        own.addFilter(RegexFilter.createFilter(
          "(?s)Truncated the string representation of a plan since it was too long.*",
          null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
        ctx.updateLoggers()
      case _ => () // another logging backend: leave it as configured
    }
  }
}
