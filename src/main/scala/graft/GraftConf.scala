package graft

import org.apache.spark.sql.SparkSession

/** The engine's own session conf: every `spark.graft.*` key, with its
  * default and its parser. A key is read only through its accessor here,
  * so each value is parsed one way and a bad value fails with the key
  * named, wherever it is read. [[check]] applies the same parsers to a
  * launch-time entry (`SPARK_GRAFT_CONF`), so a typo fails at harness
  * start instead of mid-query.
  */
object GraftConf {
  private val Prefix = "spark.graft."

  /** One conf key: `apply` reads it from a session, absent → default. */
  final class Key[T] private[GraftConf] (val name: String, parse: Option[String] => T) {
    def apply(spark: SparkSession): T = parse(spark.conf.getOption(name))
    private[GraftConf] def check(raw: String): Unit = { parse(Some(raw)); () }
  }

  private def bad(key: String, raw: String, want: String) =
    new IllegalArgumentException(s"$key must be $want, got '$raw'")

  private def choice(name: String, default: String, rest: String*): Key[String] = {
    val allowed = default +: rest
    new Key(name, raw => {
      val v = raw.getOrElse(default)
      if (allowed.contains(v)) v else throw bad(name, v, allowed.mkString("|"))
    })
  }

  /** Build-once artifact cuts: `local` = localCheckpoint, `reliable` =
    * checkpoint to [[checkpointDir]], `auto` = reliable off local mode. */
  val materialize: Key[String] = choice(Prefix + "materialize", "auto", "local", "reliable")

  /** Shared-storage directory for `reliable` materialization. */
  val checkpointDir: Key[Option[String]] = new Key(Prefix + "checkpointDir", _.map { d =>
    if (d.trim.isEmpty) throw bad(Prefix + "checkpointDir", d, "a non-empty path")
    d
  })

  /** Streaming state backend: `auto` = RocksDB off local mode. */
  val stateStore: Key[String] = choice(Prefix + "stateStore", "auto", "hdfs", "rocksdb")

  /** Pre-1970 rows in a watermarked stream: log them, abort, or ignore. */
  val preEpochGuard: Key[String] = choice(Prefix + "preEpochGuard", "warn", "fail", "off")

  val keys: Seq[Key[_]] = Seq(materialize, checkpointDir, stateStore, preEpochGuard)

  /** Validate one `key=value` launch entry: a `spark.graft.*` key must be
    * one of [[keys]] and its value must parse; other keys pass through. */
  def check(key: String, value: String): Unit =
    if (key.startsWith(Prefix))
      keys.find(_.name == key).getOrElse(throw new IllegalArgumentException(
        s"unknown conf key '$key'; known: ${keys.map(_.name).mkString(", ")}"))
        .check(value)
}
