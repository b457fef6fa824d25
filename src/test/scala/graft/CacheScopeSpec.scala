package graft

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CacheScope

class CacheScopeSpec extends AnyFunSuite {
  import TestSpark._

  test("a released scope leaves the pending queue when it is released") {
    val cached = spark.range(1000).toDF("x").persist()
    val result = CacheScope.unpersistAfterUse(cached.where(col("x") % 7 === 0), cached)
    assert(result.count() === 143L)
    ListenerBus.drain(spark.sparkContext)
    assert(cached.storageLevel === StorageLevel.NONE, "the scope was not released")
    assert(CacheScope.releasedPending === 0, "a released scope is still queued")
  }
}
