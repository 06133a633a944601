package graft.tools

import org.apache.spark.sql.SparkSession

/** Pieces every timed main shares: Bench, QueryProfile and ScaleProbe. */
object Diagnostics {

  /** Warm the engine (executor threads, codegen, shuffle machinery) with a
    * data-free job, and the parquet read/write machinery on a throwaway
    * file, so the first timed query doesn't absorb the session cold-start.
    */
  def warm(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    spark.range(1 << 20).repartition(spark.sparkContext.defaultParallelism)
      .agg(sum(col("id"))).collect()
    Sweep.withTempDir("graft-warmup") { dir =>
      spark.range(100).write.mode("overwrite").parquet(s"$dir/t.parquet")
      spark.read.parquet(s"$dir/t.parquet").count()
    }
  }

  @volatile private var drainWarned = false

  /** Drain the async listener bus, so a listener's snapshot covers every
    * task of the action that just returned. `listenerBus` is
    * private[spark], which is public at the bytecode level.
    *
    * NonFatal only, logged ONCE: if the reflective drain ever breaks on a
    * Spark upgrade the fixed-sleep fallback under-drains the bus and
    * per-query deltas silently bleed into the next query — a logged
    * fallback makes that diagnosable instead of invisible. An interrupt
    * re-asserts the flag and skips the sleep (don't swallow it).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = classOf[org.apache.spark.SparkContext]
        .getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      // Method.invoke wraps the callee's throw in
      // InvocationTargetException, so an interrupt inside
      // waitUntilEmpty arrives as ITE(cause = InterruptedException) —
      // unwrap BEFORE classifying, or the interrupt would be
      // misreported as "drain broke" and swallowed by the sleep
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause.isInstanceOf[InterruptedException] =>
        Thread.currentThread().interrupt()
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(e) =>
        if (!drainWarned) {
          drainWarned = true
          val root = e match {
            case ite: java.lang.reflect.InvocationTargetException
                if ite.getCause != null => ite.getCause
            case other => other
          }
          System.err.println(s"[graft] listener-bus drain broke " +
            s"(${root.getClass.getSimpleName}: ${root.getMessage}); falling " +
            "back to fixed 300 ms sleeps — per-query attribution is degraded")
        }
        Thread.sleep(300)
    }
}
