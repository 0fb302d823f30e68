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

  private val Nprobe = "spark.graft.hardNegatives.nprobe"
  private val ExactMax = "spark.graft.hardNegatives.exactMax"
  private val SaltWidth = "spark.graft.hardNegatives.saltWidth"
  private val FrontMax = "spark.graft.broadcastFrontMaxBytes"

  test("the registry holds exactly the eight engine keys") {
    assert(GraftConf.keys.map(_.name).toSet === Set(
      "spark.graft.materialize", "spark.graft.checkpointDir",
      "spark.graft.stateStore", "spark.graft.preEpochGuard",
      FrontMax, ExactMax, Nprobe, SaltWidth))
  }

  test("absent keys read as their defaults") {
    assert(GraftConf.materialize(spark) === "auto")
    assert(GraftConf.checkpointDir(spark) === None)
    assert(GraftConf.stateStore(spark) === "auto")
    assert(GraftConf.preEpochGuard(spark) === "warn")
    assert(GraftConf.broadcastFrontMaxBytes(spark) === (160L << 20))
    assert(GraftConf.hardNegatives.exactMax(spark) === 5000L)
    assert(GraftConf.hardNegatives.nprobe(spark) === None)
    assert(GraftConf.hardNegatives.saltWidth(spark) === None)
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

  test("broadcastFrontMaxBytes: size strings parse, a bare number is bytes") {
    withConf(FrontMax, "160m")(
      assert(GraftConf.broadcastFrontMaxBytes(spark) === (160L << 20)))
    withConf(FrontMax, "167772160")(
      assert(GraftConf.broadcastFrontMaxBytes(spark) === 167772160L))
    rejects(FrontMax, "160 megs", GraftConf.broadcastFrontMaxBytes(spark))
    rejects(FrontMax, "-1", GraftConf.broadcastFrontMaxBytes(spark))
  }

  test("exactMax: an integer is read, a non-integer is rejected by name") {
    withConf(ExactMax, "0")(assert(GraftConf.hardNegatives.exactMax(spark) === 0L))
    rejects(ExactMax, "abc", GraftConf.hardNegatives.exactMax(spark))
    rejects(ExactMax, "-5", GraftConf.hardNegatives.exactMax(spark))
  }

  test("nprobe: a positive count is read, zero is rejected rather than clamped") {
    withConf(Nprobe, "16")(assert(GraftConf.hardNegatives.nprobe(spark) === Some(16)))
    rejects(Nprobe, "0", GraftConf.hardNegatives.nprobe(spark))
    rejects(Nprobe, "many", GraftConf.hardNegatives.nprobe(spark))
  }

  test("saltWidth: a width in 1..64 is read, one outside is rejected by name") {
    withConf(SaltWidth, " 8 ")(assert(GraftConf.hardNegatives.saltWidth(spark) === Some(8)))
    rejects(SaltWidth, "65", GraftConf.hardNegatives.saltWidth(spark))
    rejects(SaltWidth, "eight", GraftConf.hardNegatives.saltWidth(spark))
  }

  test("launch conf: engine keys are checked at harness start, other keys pass") {
    val ok = Harness.settings(Map(
      "SPARK_GRAFT_STATE_STORE" -> "rocksdb",
      "SPARK_GRAFT_CONF" ->
        s"$FrontMax=160m;spark.sql.autoBroadcastJoinThreshold=-1;spark.graft.stateStore=hdfs"))
    assert(ok.conf === Seq("spark.graft.stateStore" -> "rocksdb", FrontMax -> "160m",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", "spark.graft.stateStore" -> "hdfs"))
    val unknown = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_CONF" -> "spark.graft.hardNegative.nprobe=16")))
    assert(unknown.getMessage.contains("spark.graft.hardNegative.nprobe"))
    val malformed = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_CONF" -> s"$ExactMax=abc")))
    assert(malformed.getMessage.contains(ExactMax))
    val alias = intercept[IllegalArgumentException](
      Harness.settings(Map("SPARK_GRAFT_MATERIALIZE" -> "never")))
    assert(alias.getMessage.contains("spark.graft.materialize"))
  }
}
