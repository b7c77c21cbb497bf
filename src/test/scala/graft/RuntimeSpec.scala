package graft

import org.apache.spark.HashPartitioner

/** The shared session constructor and the task-metrics recorder. */
class RuntimeSpec extends SparkSuite {

  test("Sessions.local carries the shared confs the oracle hashes depend on") {
    // getOrCreate: the same session comes back, with its confs re-asserted
    assert(Sessions.local("4") eq spark)
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("a Metrics window counts exactly its own tasks and shuffle rows") {
    val sc = spark.sparkContext
    val (n, m) = Metrics.window(spark) {
      sc.parallelize(1 to 1000, 8).map(i => (i, i)).partitionBy(new HashPartitioner(3)).count()
    }
    assert(n === 1000)
    assert(m.tasks === 11) // 8 map tasks + 3 reduce tasks
    assert(m.stages.map(_.tasks) === Seq(8L, 3L))
    assert(m.shuffleWriteRows === 1000)
    assert(m.shuffleWriteBytes > 0)
    assert(m.maxShuffleReadBytes > 0)
    assert(m.maxTaskMs <= m.taskMs)
    // the recorder is detached after the window: later jobs do not leak in
    sc.parallelize(1 to 10, 2).count()
    org.apache.spark.graftshim.ListenerBridge.waitUntilListenerBusEmpty(sc)
    assert(m.tasks === 11)
  }
}
