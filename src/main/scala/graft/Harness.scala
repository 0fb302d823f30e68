package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** The launch harness every main shares: the one place a SparkSession is
  * built and the shared `SPARK_GRAFT_*` environment is read. A main keeps
  * only its own work (and its own output knob, if it has one).
  */
object Harness {

  /** The shared launch settings, read once from the environment. */
  final case class Settings(
      master: String,
      parts: Int,
      sfDir: String,
      only: Option[Set[String]],
      action: String,
      conf: Seq[(String, String)])

  private[graft] def settings(env: Map[String, String]): Settings = {
    val cpus = positiveInt("SPARK_GRAFT_CPUS", env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val action = env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "count")
    require(action == "count" || action == "checksum",
      s"SPARK_GRAFT_BENCH_ACTION must be count|checksum, got '$action'")
    // optional comma-separated query filter for targeted runs, names
    // trimmed and validated against the registry
    val only = env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in registry: ${unknown.mkString(", ")}")
    }
    // the three single-key aliases first, then the generic passthrough
    // (semicolon-separated key=value pairs, e.g.
    // SPARK_GRAFT_CONF=spark.graft.preEpochGuard=fail), which may
    // override them; every spark.graft.* entry is checked here, so a
    // bad value fails before any query runs
    val conf = Seq(
      env.get("SPARK_GRAFT_STATE_STORE").map(GraftConf.stateStore.name -> _),
      env.get("SPARK_GRAFT_MATERIALIZE").map(GraftConf.materialize.name -> _),
      env.get("SPARK_GRAFT_CHECKPOINT_DIR").map(GraftConf.checkpointDir.name -> _),
    ).flatten ++ env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf)
    conf.foreach { case (k, v) => GraftConf.check(k, v) }
    Settings(
      master = env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      // partition count defaults to the thread count but can be raised
      // on its own for scale probes: per-partition volume, not thread
      // count, is what leaves the memory regime at ×100 data
      parts = env.get("SPARK_GRAFT_PARTS").fold(cpus)(positiveInt("SPARK_GRAFT_PARTS", _)),
      sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      only = only, action = action, conf = conf)
  }

  lazy val env: Settings = settings(sys.env)

  /** The session every main runs on: UTC, UI off, AQE on, with the
    * launch conf applied. */
  def session(app: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(env.master)
      .appName(app)
      .config("spark.sql.shuffle.partitions", env.parts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    env.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  /** Registry queries, narrowed by `SPARK_GRAFT_ONLY` when it is set. */
  def selected: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter { case (name, _) => env.only.forall(_.contains(name)) }

  /** The timed action. `count` is the committed methodology, but Catalyst
    * prunes computed columns nothing references (a heavy decimal column
    * can cost ~0 under count — the q218 class). `checksum` forces EVERY
    * output column through an aggregate (bit_xor of xxhash64 over the
    * whole row struct — xor, not sum: summing 2^63-scale hashes
    * overflows under ANSI mode), so the timed number is the full cost of
    * producing the advertised output.
    */
  def timedAction(df: DataFrame): Unit = env.action match {
    case "count" => df.count(); ()
    case "checksum" => df.agg(bit_xor(xxhash64(struct(col("*"))))).head(); ()
  }

  /** A launch count in [1, max], failing with the variable named — a bare
    * `.toInt` or a raw pass-through surfaces a typo as a Spark master-URL
    * or SQLConf error that names neither the variable nor its value. */
  private[graft] def positiveInt(name: String, raw: String, max: Int = Int.MaxValue): Int = {
    val v = raw.trim.toIntOption
    val want = if (max == Int.MaxValue) "a positive integer" else s"an integer in 1..$max"
    require(v.exists(n => n >= 1 && n <= max), s"$name must be $want, got '$raw'")
    v.get
  }

  /** Parse the SPARK_GRAFT_CONF passthrough — semicolon-separated
    * key=value pairs — failing LOUDLY on a pair without '=' (an inline
    * destructure dies in an anonymous MatchError, which is a miserable
    * way to learn you typed a comma). */
  private[graft] def parseConf(raw: String): Seq[(String, String)] =
    raw.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0,
        s"SPARK_GRAFT_CONF entry '$kv' is not key=value (semicolon-separated pairs)")
      (kv.substring(0, i), kv.substring(i + 1))
    }

  /** Locale-independent fixed-point formatting: the f interpolator uses
    * the JVM default locale, which under e.g. de_DE emits a decimal
    * comma — invalid JSON. */
  private[graft] def num4(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** Minimal JSON string-content escaper for every artifact that embeds
    * free text (conf values, oracle SQL): backslash and quote escaped,
    * control characters \\u-encoded. */
  private[graft] def jsonStr(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' =>
        String.format(java.util.Locale.ROOT, "\\u%04x", Integer.valueOf(c.toInt))
      case c => c.toString
    }
}
