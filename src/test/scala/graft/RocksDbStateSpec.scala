package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming state store must be the scale-safe RocksDB provider:
  * the default HDFS-backed provider holds all state in executor heap,
  * which caps drained volume; RocksDB keeps it off-heap with disk
  * spill. Asserts the provider is ACTIVE (RocksDB custom metrics in the
  * query progress), not merely configured.
  */
class RocksDbStateSpec extends AnyFunSuite {
  import TestSpark._

  test("stateful drain runs on the RocksDB state store provider") {
    @volatile var stateMetricKeys = Set.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        e.progress.stateOperators.foreach { op =>
          stateMetricKeys = stateMetricKeys ++ op.customMetrics.keySet.asScala
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // start from an UNSET provider: RocksDB metrics can then only come
    // from the drain's own per-query choice, never from the session
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    spark.streams.addListener(listener)
    try {
      val drained = StreamingOps.drainToBatch(
        StreamingOps.hourlyCounts(StreamingOps.eventsStream(spark, sf)),
        OutputMode.Complete())
      assert(drained.count() > 0)
      // the choice is scoped to the drain: the session is left unset
      assert(!spark.conf.getAll.contains(key))
      // listener events are async — give the progress a moment to land
      val deadline = System.currentTimeMillis() + 10000
      while (!stateMetricKeys.exists(_.toLowerCase.contains("rocksdb")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(stateMetricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb state metrics in progress; saw: $stateMetricKeys")
    } finally {
      spark.streams.removeListener(listener)
      prev.foreach(spark.conf.set(key, _))
    }
  }

  test("an explicit caller-chosen provider is respected, HDFS default is upgraded") {
    assert(StreamingOps.scaleSafeProvider(Some("com.example.CustomProvider"))
      === "com.example.CustomProvider")
    assert(StreamingOps.scaleSafeProvider(Some(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))
      === StreamingOps.RocksDbProvider)
    assert(StreamingOps.scaleSafeProvider(None) === StreamingOps.RocksDbProvider)
  }
}
