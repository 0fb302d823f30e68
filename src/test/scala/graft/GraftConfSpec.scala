package graft

/** Every `spark.graft.*` key parses one way, through GraftConf: a good
  * value reads back typed, a bad one fails with the key named — at the
  * read site for session conf, and at harness start for a launch entry.
  */
class GraftConfSpec extends SparkSpec {

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def rejects(key: String, value: String, read: => Any): Unit = {
    val e = withConf(key, value)(intercept[IllegalArgumentException](read))
    assert(e.getMessage.contains(key), s"error does not name the key: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException](GraftConf.check(key, value))
    assert(e2.getMessage.contains(key), s"error does not name the key: ${e2.getMessage}")
  }

  test("the registry holds exactly the four engine keys") {
    assert(GraftConf.keys.map(_.name).toSet === Set(
      "spark.graft.materialize", "spark.graft.checkpointDir",
      "spark.graft.stateStore", "spark.graft.preEpochGuard"))
  }

  test("absent keys read as their defaults") {
    assert(GraftConf.materialize(spark) === "auto")
    assert(GraftConf.checkpointDir(spark) === None)
    assert(GraftConf.stateStore(spark) === "auto")
    assert(GraftConf.preEpochGuard(spark) === "warn")
  }

  test("materialize: reliable is read, an unknown mode is rejected by name") {
    withConf("spark.graft.materialize", "reliable")(
      assert(GraftConf.materialize(spark) === "reliable"))
    rejects("spark.graft.materialize", "sometimes", GraftConf.materialize(spark))
  }

  test("checkpointDir: a path is read, a blank one is rejected by name") {
    withConf("spark.graft.checkpointDir", "/tmp/ckpt")(
      assert(GraftConf.checkpointDir(spark) === Some("/tmp/ckpt")))
    rejects("spark.graft.checkpointDir", " ", GraftConf.checkpointDir(spark))
  }

  test("stateStore: rocksdb is read, an unknown backend is rejected by name") {
    withConf("spark.graft.stateStore", "rocksdb")(
      assert(GraftConf.stateStore(spark) === "rocksdb"))
    rejects("spark.graft.stateStore", "leveldb", GraftConf.stateStore(spark))
  }

  test("preEpochGuard: fail is read, an unknown mode is rejected by name") {
    withConf("spark.graft.preEpochGuard", "fail")(
      assert(GraftConf.preEpochGuard(spark) === "fail"))
    rejects("spark.graft.preEpochGuard", "loud", GraftConf.preEpochGuard(spark))
  }

  test("launch conf: engine keys are checked at harness start, other keys pass") {
    val guard = "spark.graft.preEpochGuard"
    val ok = Harness.settings(Map(
      "SPARK_GRAFT_STATE_STORE" -> "rocksdb",
      "SPARK_GRAFT_CONF" ->
        s"$guard=fail;spark.sql.autoBroadcastJoinThreshold=-1;spark.graft.stateStore=hdfs"))
    assert(ok.conf === Seq("spark.graft.stateStore" -> "rocksdb", guard -> "fail",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", "spark.graft.stateStore" -> "hdfs"))
    val unknown = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_CONF" -> "spark.graft.hardNegative.nprobe=16")))
    assert(unknown.getMessage.contains("spark.graft.hardNegative.nprobe"))
    // a key that was once valid is unknown now, not silently ignored
    val removed = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_CONF" -> "spark.graft.hardNegatives.exactMax=0")))
    assert(removed.getMessage.contains("unknown conf key 'spark.graft.hardNegatives.exactMax'"))
    val malformed = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_CONF" -> s"$guard=loud")))
    assert(malformed.getMessage.contains(guard))
    val alias = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_MATERIALIZE" -> "never")))
    assert(alias.getMessage.contains("spark.graft.materialize"))
  }
}
