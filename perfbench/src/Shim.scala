package org.apache.spark {
  /** The one `private[spark]` call the benchmark needs. */
  object PerfbenchShim {
    def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  object Shim {
    /** Blocks until every posted listener event has been delivered. */
    def drain(spark: SparkSession): Unit =
      org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)

    /** Janino compile time summed over the JVM, in nanoseconds. */
    def compileNs: Long = CodeGenerator.compileTime

    /** Number of Janino compiles over the JVM. */
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }
}
