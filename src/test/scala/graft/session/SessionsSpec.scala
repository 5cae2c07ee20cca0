package graft.session

import graft.SparkTestBase

class SessionsSpec extends SparkTestBase {

  /** `getOrCreate` applies a builder's confs to the running session —
    * the suite-wide one here. Run `body` against it, then put back every
    * conf it set or changed, so later specs see the session as it was:
    * a leaked 12 or 18 shuffle partitions moves their job counts. */
  private def restoringConfs(body: => Unit): Unit = {
    val conf = spark.sessionState.conf
    val before = conf.getAllConfs
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try body
    finally {
      val after = conf.getAllConfs
      (after.keySet -- before.keySet).foreach(conf.unsetConf)
      before.foreach { case (k, v) => if (!after.get(k).contains(v)) conf.setConfString(k, v) }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
  }

  test("size matrix matches the reference presets") {
    assert(Sessions.Small.executorMemory == "1g" && Sessions.Small.shufflePartitions == 12)
    assert(Sessions.Medium.executorMemory == "6g" && Sessions.Medium.executorCores == 3)
    assert(Sessions.Large.executorMemory == "10g" &&
      Sessions.Large.memoryOverhead.contains("1g") &&
      Sessions.Large.shufflePartitions == 200)
    assert(Sessions.ExtraLarge.maxExecutors == 12 &&
      Sessions.ExtraLarge.memoryOverhead.contains("2g"))
  }

  test("sizeFromString parses all names, rejects unknown") {
    assert(Sessions.sizeFromString("small") == Sessions.Small)
    assert(Sessions.sizeFromString("MEDIUM") == Sessions.Medium)
    assert(Sessions.sizeFromString("extra-large") == Sessions.ExtraLarge)
    assert(Sessions.sizeFromString("xl") == Sessions.ExtraLarge)
    assertThrows[IllegalArgumentException](Sessions.sizeFromString("giant"))
  }

  test("createSparkSession applies preset + extra configs (against running session)") {
    // getOrCreate reuses the shared test session; config application is
    // verified through the builder path on the existing session conf
    restoringConfs {
      val s = Sessions.createSparkSession(
        appName = "graft-test-session",
        size = Sessions.Small,
        master = Some("local[2]"),
        extraConfigs = Map("spark.graft.marker" -> "on"))
      assert(s.conf.get("spark.graft.marker") == "on")
    }
    assert(!spark.conf.getAll.contains("spark.graft.marker"))
  }

  test("stateStore knob pins the RocksDB provider conf (and rejects unknown values)") {
    restoringConfs {
      val s = Sessions.createSparkSession(
        appName = "graft-test-session",
        master = Some("local[2]"),
        stateStore = "rocksdb")
      assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") ==
        Sessions.RocksDbProviderClass)
      assertThrows[IllegalArgumentException](
        Sessions.createSparkSession(stateStore = "hdfs"))
    }
  }
}
