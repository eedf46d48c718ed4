package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(GraftSession.test)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Runs `body` with the given session confs set, then restores them. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body`; returns its value and the number of Spark jobs started
    * meanwhile (listener bus drained on both ends). */
  def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}

class TablesSpec extends SparkSpec {
  test("all fixture tables load and are non-empty") {
    graft.sources.Tables.all.foreach { t =>
      val df = graft.sources.Tables.load(spark, sf, t)
      assert(df.count() > 0, s"table $t is empty")
      assert(df.schema.nonEmpty, s"table $t has no schema")
    }
  }

  // Pin the fixture contract: if the driver regenerates the parquet with a
  // different physical layout, this fails with a named assertion instead of
  // scattering DATATYPE_MISMATCH analysis errors through 13 queries (the
  // round-9 failure mode, when events.ts silently moved NANOS → MICROS/NTZ).
  test("fixture contract: loaded schemas carry the expected key columns/types") {
    import org.apache.spark.sql.types._
    def col(t: String, c: String): DataType =
      graft.sources.Tables.load(spark, sf, t).schema
        .find(_.name == c)
        .getOrElse(fail(s"fixture contract: $t lacks column $c"))
        .dataType
    assert(col("events", "ts") == TimestampType,
      "events.ts must normalize to TimestampType (micros, UTC session) — " +
        "Tables.events handles NANOS-as-long / TIMESTAMP_NTZ / TIMESTAMP layouts")
    assert(col("lineitem", "l_orderkey") == LongType, "lineitem.l_orderkey must be LongType")
    assert(col("lineitem", "l_quantity").isInstanceOf[NumericType], "lineitem.l_quantity must be numeric")
    assert(col("orders", "o_orderkey") == LongType, "orders.o_orderkey must be LongType")
    assert(col("orders", "o_orderdate") == TimestampNTZType,
      "orders.o_orderdate must be TimestampNTZType (timestamp[us], no tz)")
    assert(col("customer", "c_custkey") == LongType, "customer.c_custkey must be LongType")
    assert(!col("documents", "doc_id").isInstanceOf[StructType], "documents.doc_id must be atomic")
    assert(col("documents", "text") == StringType, "documents.text must be StringType")
    assert(col("embeddings", "embedding") match {
      case ArrayType(_: NumericType, _) => true
      case _                            => false
    }, "embeddings.embedding must be array<numeric>")
  }

  // A deliberately perturbed events layout must still normalize: long-nanos
  // (the pre-round-9 fixture shape) round-trips to the same instants as the
  // current TIMESTAMP_NTZ layout.
  test("fixture contract: events loader normalizes a legacy long-nanos layout") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_events_nanos").toString
    val cur = graft.sources.Tables.events(spark, sf)
    // write a copy with ts as raw nanos-since-epoch longs
    cur.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val renorm = graft.sources.Tables.events(spark, tmp)
    assert(renorm.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    // conf hygiene: the legacy read is materialized under a SCOPED conf —
    // one legacy file must not flip a session-wide parquet setting
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true",
      "nanosAsLong must be restored (default false) after a legacy-fixture read")
    val a = cur.agg(sum(unix_micros(col("ts")))).head.getLong(0)
    val b = renorm.agg(sum(unix_micros(col("ts")))).head.getLong(0)
    assert(a == b, "nanos layout must normalize to identical instants")
  }
}

class CachesSpec extends SparkSpec {
  import org.apache.spark.storage.StorageLevel
  test("Caches.invalidate releases memoized artifacts; they rebuild on demand") {
    val docs = graft.sources.StarDocs.docs(spark, sf)
    graft.operators.Shred.shredTyped(docs)
    assert(graft.ext.Dedup.minhashSignatures(
      graft.sources.Tables.documents(spark, sf)).count() > 0)
    assert(docs.storageLevel != StorageLevel.NONE)
    Caches.invalidate(spark)
    assert(docs.storageLevel == StorageLevel.NONE)
    // memos re-fault transparently after the sweep
    assert(graft.sources.StarDocs.docs(spark, sf).count() > 0)
  }
}
