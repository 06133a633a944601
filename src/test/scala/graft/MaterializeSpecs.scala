package graft

import graft.core.Materialize
import org.apache.spark.sql.functions._

/** Session-hygiene contract for the materialization registry: every
  * localCheckpoint block handed out by Materialize is tracked, and
  * releaseAll() at a serialized-query boundary returns the context's persisted-RDD
  * population to its pre-query baseline — the leak behind the round-4
  * dedup_minhash/simhash bench regression.
  */
class MaterializeSpecs extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("once() tracks its checkpoint block and releaseAll() drops it") {
    Materialize.releaseAll(spark, blocking = true) // clean slate
    val before = persistedIds
    val df = Materialize.once(
      spark.range(10000).select(col("id"), (col("id") * 2).as("x")))
    assert(df.count() == 10000)
    assert(Materialize.liveBlockCount(spark) >= 1,
      "lazy cut must be tracked as a live block after its first action")
    assert((persistedIds -- before).nonEmpty)
    Materialize.releaseAll(spark, blocking = true)
    assert(Materialize.liveBlockCount(spark) == 0)
    assert(persistedIds == before,
      "releaseAll() must return the persisted-RDD set to the pre-query baseline")
  }

  test("cut() (eager) is tracked and released the same way") {
    Materialize.releaseAll(spark, blocking = true)
    val before = persistedIds
    val df = Materialize.cut(spark.range(5000).toDF("id"))
    assert(df.count() == 5000)
    assert(Materialize.liveBlockCount(spark) >= 1)
    Materialize.releaseAll(spark, blocking = true)
    assert(persistedIds == before)
  }

  test("releaseAll() leaves caller-persisted frames alone") {
    Materialize.releaseAll(spark, blocking = true)
    val user = spark.range(1000).toDF("id").persist()
    user.count()
    val mat = Materialize.once(spark.range(1000).toDF("id"))
    mat.count()
    Materialize.releaseAll(spark, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "a frame the USER persisted must survive registry releaseAll")
    assert(user.count() == 1000)
    user.unpersist(blocking = true)
  }

  test("scoped release: dropping query A's scope leaves query B's blocks live") {
    Materialize.releaseAll(spark, blocking = true)
    // two "concurrent" queries, each materializing inside its own scope —
    // the query-service shape where a global release would destroy the
    // other query's in-flight localCheckpoint blocks (lineage truncated,
    // unrecoverable)
    val (dfA, scopeA) = Materialize.inScope { s =>
      val df = Materialize.once(spark.range(2000).select(col("id"), (col("id") * 2).as("x")))
      assert(df.count() == 2000)
      (df, s)
    }
    val (dfB, scopeB) = Materialize.inScope { s =>
      val df = Materialize.once(spark.range(3000).select(col("id"), (col("id") + 7).as("y")))
      assert(df.count() == 3000)
      (df, s)
    }
    assert(Materialize.liveBlockCount(spark, scopeA) >= 1)
    assert(Materialize.liveBlockCount(spark, scopeB) >= 1)
    // query A finishes first; B is still mid-flight
    scopeA.release(spark, blocking = true)
    assert(Materialize.liveBlockCount(spark, scopeA) == 0,
      "scope A's blocks must be gone after its release")
    assert(Materialize.liveBlockCount(spark, scopeB) >= 1,
      "scope B's in-flight blocks must SURVIVE scope A's release")
    // B's materialized frame is still fully usable after A released
    assert(dfB.agg(sum("y")).head().getLong(0) == (0 until 3000).map(_ + 7L).sum)
    scopeB.release(spark, blocking = true)
    assert(Materialize.liveBlockCount(spark) == 0)
    val _ = dfA
  }

  test("nested scopes: inner cuts belong to the inner scope") {
    Materialize.releaseAll(spark, blocking = true)
    Materialize.inScope { outer =>
      val a = Materialize.once(spark.range(500).toDF("id"))
      a.count()
      val inner = Materialize.inScope { s =>
        val b = Materialize.once(spark.range(600).toDF("id"))
        b.count()
        s
      }
      assert(Materialize.liveBlockCount(spark, outer) >= 1)
      assert(Materialize.liveBlockCount(spark, inner) >= 1)
      inner.release(spark, blocking = true)
      assert(Materialize.liveBlockCount(spark, inner) == 0)
      assert(Materialize.liveBlockCount(spark, outer) >= 1,
        "outer scope's blocks must survive the inner scope's release")
      outer.release(spark, blocking = true)
    }
    assert(Materialize.liveBlockCount(spark) == 0)
  }

  test("a multi-cut query releases every block in one call") {
    Materialize.releaseAll(spark, blocking = true)
    val before = persistedIds
    val a = Materialize.once(spark.range(100).toDF("id"))
    val b = Materialize.once(a.select((col("id") + 1).as("id")))
    val c = Materialize.cut(b.select((col("id") * 3).as("id")))
    assert(c.agg(sum("id")).head().getLong(0) == (1 to 100).map(_ * 3L).sum)
    assert(Materialize.liveBlockCount(spark) >= 3)
    Materialize.releaseAll(spark, blocking = true)
    assert(Materialize.liveBlockCount(spark) == 0)
    assert(persistedIds == before)
  }

  test("releaseFrame refuses a lazy replacement and leaves the staging frame readable") {
    Materialize.releaseAll(spark, blocking = true)
    val staging = Materialize.cut(spark.range(1000).toDF("id"))
    // a lazy sealed copy: not materialized yet, so it still reads staging
    val lazyCopy = Materialize.oncePartitioned(
      staging.repartition(4, col("id")), Seq("id"), 4)
    val ex = intercept[IllegalArgumentException] {
      Materialize.releaseFrame(spark, staging, lazyCopy, blocking = true)
    }
    assert(ex.getMessage.contains("not an eager tracked cut"))
    assert(staging.count() == 1000L, "the staging frame must still be readable")
    assert(lazyCopy.count() == 1000L)
    // a plain (uncut) frame is no replacement either
    intercept[IllegalArgumentException] {
      Materialize.releaseFrame(spark, staging, staging.select(col("id")), blocking = true)
    }
    assert(staging.count() == 1000L)
    Materialize.releaseAll(spark, blocking = true)
  }

  test("releaseFrame drops the staging blocks once the replacement is an eager cut") {
    Materialize.releaseAll(spark, blocking = true)
    val staging = Materialize.cut(spark.range(1000).toDF("id"))
    val sealedCopy = Materialize.cutPartitioned(
      staging.repartition(4, col("id")), Seq("id"), 4)
    val live = Materialize.liveBlockCount(spark)
    Materialize.releaseFrame(spark, staging, sealedCopy, blocking = true)
    assert(Materialize.liveBlockCount(spark) == live - 1)
    assert(!Materialize.isReadable(staging))
    assert(sealedCopy.count() == 1000L, "the replacement reads its own blocks")
    Materialize.releaseAll(spark, blocking = true)
  }
}
