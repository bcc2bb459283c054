package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[LocalCkpt.free]] frees a frame only when its plan root is its own
  * checkpoint; any other shape is left alone, never thrown at. */
class LocalCkptSpec extends SparkSpec {

  private def pinned(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def ckptRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  test("free: the checkpoint itself is freed") {
    val ck = spark.range(100).toDF("id").localCheckpoint(true)
    val id = ckptRddId(ck)
    assert(pinned(id))
    assert(LocalCkpt.free(ck))
    assert(!pinned(id))
  }

  test("free: composite plans and un-checkpointed frames are left alone") {
    val ck = spark.range(100).toDF("id").localCheckpoint(true)
    val ck2 = spark.range(50).toDF("id").localCheckpoint(true)
    val id = ckptRddId(ck)
    val composites = Seq(ck.filter(col("id") > 10), ck.join(ck2, "id"),
      ck.select((col("id") * 2).as("id")))
    composites.foreach(c => assert(!LocalCkpt.free(c)))
    assert(!LocalCkpt.free(spark.range(5).toDF("id")))
    assert(pinned(id) && pinned(ckptRddId(ck2)))
    // the frames over the checkpoint still read their blocks
    assert(composites.head.count() === 89L)
    assert(composites(1).count() === 50L)
    assert(LocalCkpt.free(ck) && LocalCkpt.free(ck2))
  }
}
