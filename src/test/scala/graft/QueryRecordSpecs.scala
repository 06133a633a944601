package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class QueryIndexSpec extends AnyFunSuite {
  test("the name index fails loudly, naming the name two records share") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      Query.index(Seq(Query("twin", build, "SELECT 1"), Query("solo", build, "SELECT 2"),
        Query("twin", build, "SELECT 3")))
    }
    assert(e.getMessage.contains("duplicate query names: twin"), e.getMessage)
    assert(Query.index(Seq(Query("a", build, "SELECT 1"))).keySet == Set("a"))
  }
}

class VerifyRunSpec extends SparkSpec {
  test("Verify.run writes parquet and oracle entries for exactly the filtered queries") {
    val only = Set("ohlcv_1m", "top_volume")
    val out = Files.createTempDirectory("graft_verify").toString
    try {
      Verify.run(spark, Sf0001, out, Some(only))
      val oracles = new ObjectMapper().readTree(Paths.get(out, "oracle_sql.json").toFile)
      val keys = oracles.fieldNames().asScala.toSet
      val dirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName).toSet
      assert(keys == only && dirs == only, s"oracle keys $keys, parquet dirs $dirs")
      only.foreach { n =>
        assert(oracles.get(n).asText == SparkEntry.query(n).oracleSql)
        assert(spark.read.parquet(s"$out/$n").count() ==
          SparkEntry.query(n).build(spark, Sf0001).count())
      }
    } finally graft.tools.NullSweep.deleteRecursively(out)
  }
}

class BenchDrawSpec extends SparkSpec {
  test("a throwing draw is a failure, not a wall time") {
    val tap = new Bench.CpuTap
    assert(Bench.drawWith(spark, tap, "boom")(throw new RuntimeException("boom")).isEmpty)
    val ok = Bench.drawWith(spark, tap, "range")(spark.range(10).count())
    assert(ok.exists(_._1 >= 0.0), ok)
  }
}
