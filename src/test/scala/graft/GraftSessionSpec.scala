package graft

import graft.tools.Probe

/** Drift guard for the one session factory: the bench profile's confs,
  * the test profile's shape, and that the suites really run the latter —
  * a conf that moves here moves every plan the bench times or the suites
  * pin, so it must move as a reviewed change. */
class GraftSessionSpec extends SparkSpec {

  test("bench profile: exact confs for Bench, Verify and the timing probes") {
    val p = GraftSession.bench("8")
    assert(p.confs.toMap == Map(
      "spark.master" -> "local[8]",
      "spark.app.name" -> "graft-bench",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> String.valueOf(64L * 1024 * 1024),
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(!p.tempWarehouse)
  }

  test("test profile: local[4], 4 partitions, Spark's default broadcast budget") {
    val c = GraftSession.test.confs.toMap
    assert(c("spark.master") == "local[4]")
    assert(c("spark.sql.shuffle.partitions") == "4")
    assert(!c.contains("spark.sql.autoBroadcastJoinThreshold"))
    assert(GraftSession.test.tempWarehouse)
  }

  test("TestSpark.spark is built from the test profile") {
    GraftSession.test.confs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"TestSpark's $k")
    }
    assert(spark.sparkContext.master == "local[4]")
    val budget = org.apache.spark.sql.internal.SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
    assert(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get(budget.key)) == budget.defaultValue.get,
      "the suites plan under Spark's default broadcast budget")
  }

  test("Probe: a malformed --conf pair fails with a message naming the pair") {
    Seq("novalue", "=v", " =v").foreach { kv =>
      val e = intercept[IllegalArgumentException](
        Probe.parse(Seq("time", "--sf", "d", "--conf", kv)))
      assert(e.getMessage.contains(s"'$kv'"), e.getMessage)
    }
    val a = Probe.parse(Seq("shuffles", "--sf", "d", "--conf", "k.a=b=c", "--reps", "3", "q1"))
    assert(a.conf == Seq("k.a" -> "b=c") && a.reps == 3 && a.names == Seq("q1"))
    intercept[IllegalArgumentException](Probe.parse(Seq("time", "--sf")))
    intercept[IllegalArgumentException](Probe.parse(Seq("time", "--reps", "0", "--sf", "d")))
    intercept[IllegalArgumentException](Probe.parse(Seq("nope", "--sf", "d")))
  }
}
