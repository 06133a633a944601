package graft
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ad-hoc conf overrides for A/B probes: SPARK_GRAFT_CONF="k=v;k=v"
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = overrides.foldLeft(
      graft.core.GraftSession.builder("local[32]", 32)
    ) { (b, kv) => b.config(kv._1, kv._2) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, sum}
    spark.range(1 << 20).repartition(32).agg(sum(col("id"))).collect()
    for (name <- args) {
      graft.core.Materialize.inScope { scope =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[mini] $name ${(System.nanoTime()-t0)/1e9}%.2f s")
        scope.release(spark, blocking = true)
      }
    }
    spark.stop()
  }
}
