package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Generated code compiles once per JVM, not once per run: the
  * generated-class cache (`Sessions.CodegenCacheEntries`) holds a whole
  * batch pass, and the pass generates the same sources every time. */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles (one per generated class) during `body`. The
    * counter is JVM-wide; specs run one at a time in the forked JVM. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated TurnosJob + CorpusJob pass compiles ≤ 10% of the classes of the first") {
    val root = java.nio.file.Files.createTempDirectory("graft_codegen").toString
    def pass(version: String): Long = compiles {
      his.TurnosJob.run(spark, sf0001, s"$root/his", version)
      llm.CorpusJob.run(spark, sf0001, s"$root/llm", version)
    }
    try {
      // Start from an empty cache, so the first pass compiles its whole
      // working set whatever ran earlier in this JVM. Spark has no public
      // call for it; the cache is CodeGenerator's private `cache`. The
      // session must exist first: touching CodeGenerator creates the
      // cache, sized by the configuration active at that moment.
      spark.version
      val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
      cacheOf.setAccessible(true)
      val cache = cacheOf.invoke(CodeGenerator)
      cache.getClass.getMethod("invalidateAll").invoke(cache)
      val first = pass("001")
      val second = pass("002")
      assert(first >= 100, s"the first pass compiled only $first classes")
      assert(second * 10 <= first,
        s"the second pass compiled $second classes, the first $first")
    } finally Scratch.delete(root)
  }
}
