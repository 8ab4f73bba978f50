package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's mains build a SparkSession. Each profile is
  * plain data (key/value pairs applied in order, so a later pair wins),
  * which lets a test pin a main's conf without starting Spark. */
object Session {
  type Conf = Seq[(String, String)]

  /** Confs the engine's semantics and plans depend on, for every main. */
  val pinned: Conf = Seq(
    // timestamp parsing and unix_micros of TIMESTAMP_NTZ columns are
    // exact only in a UTC session
    "spark.sql.session.timeZone" -> "UTC",
    // reference parity: cast('bad' AS INT) → null, not error (SURVEY §7.4)
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // let AQE re-plan (coalesce/skew-split) the plans that build
    // CACHED frames too (default false pins cached output at the raw
    // shuffle partition count, so every cache consumer inherits it):
    // persist-heavy catalog entries measured 0.5-0.9x with this on
    // at sf0.1, and at scale it simply byte-sizes cached partitions
    // like any other AQE stage (r20 optimization round, guide 2.2)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** A single-JVM session on `cpus` local threads. */
  def local(cpus: String): Conf = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.ui.enabled" -> "false") ++ pinned

  /** The measurement mains' session: `local` plus state reclamation and
    * split sizing for the small test tables, then the SPARK_GRAFT_CONF
    * overlay. */
  def measured(cpus: String, gcInterval: String,
      env: String => Option[String] = sys.env.get): Conf =
    local(cpus) ++ Seq(
      // many query executions share this JVM: shuffle files are only
      // reclaimed when the ContextCleaner GCs their RDDs — hourly by
      // default, i.e. never within a run. The catalog bench takes 10min
      // (a 1min cadence injected measurable GC stalls into individual
      // samples); the streaming bench's 50 batches of multi-join plans
      // need 1min, or late batches measure accumulated-state pressure.
      "spark.cleaner.periodicGC.interval" -> gcInterval,
      // test tables are single small parquet files, and a freshly
      // compacted streaming index is ONE ~tens-of-MB dir: the default
      // 128 MiB split size scans each on one core (the streaming bench
      // measured a 2x per-batch level shift at each compaction). 4 MiB
      // spreads the scan across the local threads; at production scale
      // the default is right. SPARK_GRAFT_MAX_PART_BYTES overrides for
      // scale-up dirs whose files are bigger (sf1: 512k keeps
      // text-heavy scans wide).
      "spark.sql.files.maxPartitionBytes" ->
        env("SPARK_GRAFT_MAX_PART_BYTES").getOrElse(s"${4 * 1024 * 1024}")) ++
      overlay(env("SPARK_GRAFT_CONF"))

  /** SPARK_GRAFT_CONF="key=value;key=value": session-level tuning
    * experiments, applied after every pinned conf so they can override
    * any of them. Unset (the benchmark's case) it adds nothing. */
  def overlay(spec: Option[String]): Conf =
    spec.toSeq.flatMap(_.split(";").toSeq).map(_.trim).filter(_.nonEmpty)
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      })

  /** A submitted job's session: spark-submit injects spark.master;
    * standalone runs take SPARK_GRAFT_MASTER, then every local core. */
  def deployed(appName: String,
      prop: String => Option[String] = sys.props.get,
      env: String => Option[String] = sys.env.get): Conf = Seq(
    "spark.app.name" -> appName,
    "spark.master" -> prop("spark.master")
      .orElse(env("SPARK_GRAFT_MASTER")).getOrElse("local[*]")) ++ pinned

  def build(conf: Conf): SparkSession =
    conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
